#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Runs every workload at the tiny size twice: once as generated, which must
pass, and once with one expected value changed, which must fail. A check
that cannot fail shows up as a perturbed run that still passes.

    python3 perfbench/selftest.py [--seed N]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_bulk", "gold_incremental", "lake_dml")


def run(workload, seed, perturb):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0", "--size", "tiny"]
    p = subprocess.run(cmd + (["--perturb"] if perturb else []),
                       capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last).get("correct"), p.stderr


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=11)
    seed = ap.parse_args().seed
    bad = 0
    for w in WORKLOADS:
        for perturb in (False, True):
            code, correct, err = run(w, seed, perturb)
            ok = (code == 0 and correct is True) if not perturb else (code == 1 and correct is False)
            bad += not ok
            print(f"{'PASS' if ok else 'FAIL'} {w} {'perturbed' if perturb else 'as generated'}: "
                  f"exit {code}, correct {correct}", flush=True)
            if not ok:
                sys.stderr.write(err[-3000:])
    print("self-test passed" if not bad else f"self-test: {bad} failure(s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
