#!/usr/bin/env python3
"""Steadiness runs: run every workload with several seeds and report, per
workload and metric, the median, the quartiles and the spread
(interquartile distance over the median), as the acceptance check takes
them.

    python3 perfbench/steady.py --runs 10 --seconds 30 \
        --out perfbench/baseline/steadiness.json

Seeds are 1..runs. With --trace 1 the per-layer metrics are summarised
instead, and every traced run follows an untraced run of the same seed:
the tracing overhead is the median over the seeds of traced minus
untraced `wall_s` and `rerun_s`.

    python3 perfbench/steady.py --runs 5 --seconds 30 --trace 1 \
        --out perfbench/baseline/traced.json
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def one_run(name, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    elapsed = time.time() - t0
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines else None
    shown = {k: v["value"] for k, v in last["metrics"].items()
             if trace == 0 or k.startswith("trace.")} if last else {}
    print(f"{name} seed={seed} trace={trace} exit={p.returncode} "
          f"elapsed={elapsed:.1f}s "
          + (" ".join(f"{k}={v:.4g}" for k, v in shown.items()) if last
             else p.stderr[-500:]), flush=True)
    # the lines above the result: host, versions, commit, fail_ratio
    return {"seed": seed, "exit": p.returncode,
            "elapsed_s": round(elapsed, 2), "summary": lines[:-1],
            "result": last}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workload", action="append",
                    help="limit to these workloads (repeatable)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {"seconds": args.seconds, "trace": args.trace, "runs": {},
               "workloads": {}}
    for name in names:
        values, runs, untraced = {}, [], []
        for seed in range(1, args.runs + 1):
            if args.trace:
                untraced.append(one_run(name, seed, args.seconds, 0))
            r = one_run(name, seed, args.seconds, args.trace)
            runs.append(r)
            if r["result"]:
                for k, v in r["result"]["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
        summary["runs"][name] = runs
        per = {}
        for k, vals in values.items():
            q1, med, q3 = stats.quartiles(vals)
            per[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": stats.spread(vals) if med else None,
                      "bound": bounds.get(k), "n": len(vals)}
        summary["workloads"][name] = per
        if args.trace:
            summary.setdefault("untraced_runs", {})[name] = untraced
            summary.setdefault("overhead", {})[name] = stats.overhead(
                {r["seed"]: {k: r["result"]["metrics"][k]["value"]
                             for k in ("wall_s", "rerun_s")}
                 for r in untraced if r["result"]},
                {r["seed"]: {k: r["result"]["metrics"]["trace." + k]["value"]
                             for k in ("wall_s", "rerun_s")}
                 for r in runs if r["result"]})
    with open(args.out, "w") as fh:
        json.dump(summary, fh, indent=1)
        fh.write("\n")
    for name, o in summary.get("overhead", {}).items():
        for k, v in o.items():
            print(f"{name:20s} tracing overhead on {k}: "
                  f"{v['median_s']:+.3f} s over seeds {v['seeds']}")
    for name, per in summary["workloads"].items():
        for k, s in per.items():
            if args.trace == 0:
                print(f"{name:20s} {k:10s} median={s['median']:.4g} "
                      f"q1={s['q1']:.4g} q3={s['q3']:.4g} "
                      f"spread={s['spread']:.3f} bound={s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
