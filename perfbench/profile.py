#!/usr/bin/env python3
"""Per-call cost profile: every call recorded in a scale factor's reference
file, in one traced JVM, with one cold pass and one rerun pass. The
workloads' calls are chosen from these figures.

    python3 perfbench/profile.py --sf sf0.1 --seed 1 \
        --out perfbench/baseline/profile-sf0.1.json

A call's cold time includes the build of every shared stage it is the
first to consume, so it depends on the seeded call order.
"""
import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run as bench  # noqa: E402
import stats  # noqa: E402

TIMEOUT = 3600


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(HERE, "reference", args.sf + ".json")) as fh:
        reference = json.load(fh)
    classpath = bench.build()
    tmp = os.path.join(bench.BUILD, "tmp", f"profile-{args.sf}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    plan = os.path.join(tmp, "plan.tsv")
    out = os.path.join(tmp, "records.jsonl")
    with open(plan, "w") as fh:
        fh.write("\n".join(bench.plan_lines(sorted(reference), args.seed)
                           [:2 * len(reference)]) + "\n")
    load_start = bench.loadavg()
    try:
        with open(os.path.join(tmp, "jvm.log"), "w") as jvm_log:
            _, _, p = bench.launch(
                classpath, tmp, jvm_log, "run",
                os.path.join(bench.TESTDATA, args.sf), plan, "0", "1", out)
            bench.finish(p, time.monotonic() + TIMEOUT)
        recs = bench.read_records(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    meta, calls = recs["meta"][0], recs["call"]
    failures = stats.check_calls(calls, reference)
    stats.attribute_jobs(recs["job"], calls)
    cost = stats.call_costs(calls, recs["job"], meta["cores"])
    rerun = {c["name"]: (c["end"] - c["start"]) / 1e3
             for c in calls if c["pass"] == 1}
    rows = {}
    for c in sorted(calls, key=lambda c: c["start"]):
        if c["pass"] == 0:
            x = cost[c["id"]]
            rows[c["name"]] = {
                "layer": c["layer"], "order": len(rows),
                "verified": c["verified"], "rerun_s": rerun.get(c["name"]),
                **{k: round(v, 4) for k, v in x.items() if k != "run_ms"}}
    result = {"sf": args.sf, "seed": args.seed, "cores": meta["cores"],
              "heap_max_bytes": meta["heap_max_bytes"],
              "spark_version": meta["spark_version"],
              "java_version": meta["java_version"],
              "loadavg_start": load_start, "loadavg_end": bench.loadavg(),
              "failures": failures, "calls": rows}
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["cold_s"]):
        print(f"{r['cold_s']:8.2f} {r['rerun_s'] or 0:7.2f} {name:32s} "
              f"{r['layer']:10s} jobs={r['jobs']} max_task={r['max_task_s']}"
              f" busy={r['busy_ratio']:.2f}")
    print(f"{len(failures)} failures", failures[:5])
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
