#!/usr/bin/env python3
"""Benchmark of the retail pipeline and the lake table format.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 15 --trace 0

Workloads: ingest_bulk, gold_incremental, lake_dml (see README.md). The
first run in a checkout builds the program and the benchmark with sbt; the
classpath is cached in .bench_build/ and rebuilt when a source file changes.
Inputs come from --seed. The program's outputs are checked against answers
computed here from the generator's tags. The last line of standard output is
one JSON object: correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). A failed check exits 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

PROC_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("ingest_bulk", "gold_incremental", "lake_dml")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
GEN_REPEATS = 3
# Input sizes per workload. "tiny" is the self-test size.
SIZES = {
    "full": {
        "ingest_bulk": dict(files=2, rows=8000, dates_per_file=2),
        "gold_incremental": dict(base_files=1, base_rows=2000, cycles=2, rows=1500,
                                 dates=3, redeliver_share=0.1),
        "lake_dml": dict(base_rows=5000, steps=4, append_rows=500, merge_rows=400,
                         dates=8, optimize_every=2),
    },
    "tiny": {
        "ingest_bulk": dict(files=1, rows=300, dates_per_file=3),
        "gold_incremental": dict(base_files=1, base_rows=300, cycles=1, rows=200,
                                 dates=3, redeliver_share=0.1),
        "lake_dml": dict(base_rows=300, steps=2, append_rows=50, merge_rows=40,
                         dates=4, optimize_every=2),
    },
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(root):
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build(root):
    """Compile the program and the benchmark; return (classpath, seconds)."""
    out = os.path.join(root, ".bench_build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    want = source_stamp(root)
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, 0.0
    t0 = time.time()
    log("building program and benchmark with sbt (first run in this checkout)")
    # its own process group, so a timeout also stops the JVM sbt starts
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True)
    try:
        stdout, stderr = p.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("build timed out")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(stdout[-4000:] + stderr[-4000:])
        fail("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    return lines[-1].strip(), time.time() - t0


def generate(workload, seed, size, inputs):
    """Write the timed and warm-up inputs; return (plan, expected)."""
    result = None
    # the warm-up set is throwaway: another seed, the self-test size
    for name, s, sz in (("warm", seed + 7919, "tiny"), ("timed", seed, size)):
        d = os.path.join(inputs, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        plan, expect = getattr(gen, workload)(d, s, **SIZES[sz][workload])
        with open(os.path.join(d, "plan.tsv"), "w") as f:
            f.write(plan_tsv(workload, plan))
        if name == "timed":
            result = (plan, expect)
    return result


def plan_tsv(workload, plan):
    rows = []
    if workload == "ingest_bulk":
        rows += [["file", f] for f in plan["files"]]
    elif workload == "gold_incremental":
        rows += [["base", f] for f in plan["base"]] + [["cycle", f] for f in plan["cycles"]]
    else:
        rows.append(["base", plan["base"]])
        rows += [["step", s["append"], s["merge"], s["delete_date"],
                  "1" if s["optimize"] else "0"] for s in plan["steps"]]
    if "range" in plan:
        rows.append(["range"] + plan["range"])
    return "".join("\t".join(r) + "\n" for r in rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--perturb", action="store_true",
                    help="self-test: change one expected value; the run must fail")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout of the repository ({need} not found)")

    cp, build_s = ensure_build(root)
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("inputs", "lakes", "tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, d))
    try:
        code = run(a, root, cp, build_s, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


def run(a, root, cp, build_s, work):
    pre_gen_s = time.time() - PROC_START - build_s
    gen_times = []
    for _ in range(GEN_REPEATS):
        t0 = time.time()
        _, expect = generate(a.workload, a.seed, a.size, os.path.join(work, "inputs"))
        gen_times.append(time.time() - t0)
    if a.perturb:
        checks.perturb(a.workload, expect)

    cpus = max(1, min(4, os.cpu_count() or 1))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(cpus)])
    limit = RUN_LIMIT_S - (time.time() - PROC_START - build_s)
    spawn_ms = int(time.time() * 1000)
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd + ["--t0-ms", str(spawn_ms)], cwd=work,
                                stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, limit))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    obs_path = os.path.join(work, "obs.json")
    obs = json.load(open(obs_path)) if rc == 0 and os.path.exists(obs_path) else None
    if not obs or not (obs["round_s"] and obs["write_s"] and obs["read_s"]):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        log("the benchmark JVM timed out" if rc is None else
            f"the benchmark JVM exited {rc}" if rc else "no timed round completed")
        return 2

    problems = checks.check(a.workload, obs, expect)
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    setup_s = (pre_gen_s + statistics.median(gen_times)
               + (obs["first_timed_ms"] - spawn_ms) / 1000.0)
    if a.trace:
        metrics = {k: {"value": v, "unit": checks.layer_unit(k)}
                   for k, v in sorted(obs["layers"].items())}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": statistics.median(obs["round_s"]), "unit": "s"},
            "write_p50_s": {"value": statistics.median(obs["write_s"]), "unit": "s"},
            "read_p50_s": {"value": statistics.median(obs["read_s"]), "unit": "s"},
            "stored_bytes": {"value": obs["stored_bytes"], "unit": "bytes"},
        }
    log(json.dumps({
        "run_s": statistics.median(obs["round_s"]),
        "write_s": [round(x, 3) for x in obs["write_s"]],
        "rounds": len(obs["rounds"]), "writes": len(obs["write_s"]),
        "reads": len(obs["read_s"]), "jobs_total": obs["jobs_total"],
        "unattributed_jobs": obs["unattributed_jobs"],
        "session_s": obs["session_s"], "seed_s": obs["seed_s"],
        "warmup_s": obs["warmup_s"], "gen_s": gen_times, "build_s": round(build_s, 1),
        "load_avg": os.getloadavg()}))
    print(json.dumps({"correct": not problems, "attempted": obs["attempted"],
                      "failed": obs["failed"], "metrics": metrics}))
    return 0 if not problems else 1


if __name__ == "__main__":
    main()
