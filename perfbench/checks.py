"""Output checks: the program's observed results against the generator's
independent model. `check` returns a list of problems; empty means correct.
A failed operation's round is skipped, so only operations that completed are
judged."""
import gen


def cents(x):
    return int(round(float(x) * 100))


def _file(where, got, want, problems):
    if "file_rejected" in got or not got:
        problems.append(f"{where}: file not ingested: {got}")
        return
    c = want["counts"]
    rejects = {k: v for k, v in c.items() if k != gen.GOOD and v}
    exp = {"total": sum(c.values()), "good": c[gen.GOOD], "rejects": rejects,
           "dates": want["dates"]}
    for k, v in exp.items():
        if got.get(k) != v:
            problems.append(f"{where}: {k} {got.get(k)} != expected {v}")


def _gold(where, got, want, problems):
    if not got["passes_agree"]:
        problems.append(f"{where}: repeated analyst reads gave different answers")
    if got["rows_per_date"] != want["rows_per_date"]:
        problems.append(f"{where}: gold rows per date {got['rows_per_date']} "
                        f"!= expected {want['rows_per_date']}")
    daily = {d: cents(v) for d, v in got["daily"].items()}
    if daily != want["daily_revenue_cents"]:
        problems.append(f"{where}: dailyRevenue {daily} != expected {want['daily_revenue_cents']}")
    top = [(item, cents(v)) for item, v in got["top"]]
    want_top = want["top10_cents"]
    if [c for _, c in top] != want_top:
        problems.append(f"{where}: topProducts revenue {[c for _, c in top]} != expected {want_top}")
    for item, c in top:
        if want["item_revenue_cents"].get(item) != c:
            problems.append(f"{where}: topProducts {item} {c} != expected "
                            f"{want['item_revenue_cents'].get(item)}")
    rng = {"rows": got["range"]["rows"], "cents": cents(got["range"]["rev"])}
    if rng != want["range"]:
        problems.append(f"{where}: range query {rng} != expected {want['range']}")


def check(workload, obs, expect):
    problems = []
    rounds = [r for r in obs["rounds"] if r["ok"]]
    if not rounds:
        problems.append("no round completed")
    for i, r in enumerate(rounds):
        o = r["obs"]
        if workload == "ingest_bulk":
            if len(o["files"]) != len(expect["files"]):
                problems.append(f"round {i}: {len(o['files'])} files ingested")
            for j, (got, want) in enumerate(zip(o["files"], expect["files"])):
                _file(f"round {i} file {j}", got, want, problems)
            _gold(f"round {i}", o, expect["gold"], problems)
        elif workload == "gold_incremental":
            for j, (got, want) in enumerate(zip(o["cycles"], expect["cycles"])):
                _file(f"round {i} cycle {j}", got["file"], want["file"], problems)
                _gold(f"round {i} cycle {j}", got, want["gold"], problems)
        else:
            for j, (got, want) in enumerate(zip(o["steps"], expect["steps"])):
                # an optimize read, when present, must equal the post-delete state
                want = want + [want[-1]] * (len(got) - 3)
                for k, (g, w) in enumerate(zip(got, want)):
                    if g[0] != w["rows"] or cents(g[1]) != w["cents"]:
                        problems.append(f"round {i} step {j} read {k}: rows {g[0]} "
                                        f"revenue {cents(g[1])} != expected {w}")
    if workload == "gold_incremental":
        for j, (got, want) in enumerate(zip(obs["seed_obs"]["files"], expect["base"])):
            _file(f"seed file {j}", got, want, problems)
    if workload == "lake_dml" and rounds:
        live = obs["final"]["live_rows"]
        got = gen.live_hash(gen._lake_row((t, d, s, it, q, cents(v)))
                            for t, d, s, it, q, v in live)
        if got != expect["final_hash"]:
            problems.append(f"final live rows: {len(live)} rows, hash {got[:12]} != expected "
                            f"{expect['final_rows']} rows, hash {expect['final_hash'][:12]}")
    return problems


def perturb(workload, expect):
    """Change one expected value, so a run that still passes proves a check
    that cannot fail."""
    if workload == "ingest_bulk":
        expect["gold"]["range"]["cents"] += 1
    elif workload == "gold_incremental":
        expect["cycles"][-1]["gold"]["top10_cents"][0] += 1
    else:
        expect["steps"][-1][1]["rows"] += 1


def layer_unit(name):
    part = name.split(".", 1)[1]
    if part.endswith("_s") or "_s_per_" in part:
        return "s"
    if part.endswith("_us_per_row"):
        return "us/row"
    if "bytes" in part and part.endswith("_per_row"):
        return "bytes/row"
    if "bytes" in part:
        return "bytes"
    if part.endswith("_per_row"):
        return "records/row"
    if part.endswith("_share"):
        return "share"
    return "count"
