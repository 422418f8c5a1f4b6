"""Aggregation for the benchmark: quartiles, span self time, job
attribution, reference comparison and the per-layer roll-up.

Pure functions over the records the JVM harness writes, so
`test_stats.py` can check them without Spark.
"""
import math
import statistics

LAYERS = ["etl", "backtest", "ml", "ops", "text.tok", "text.lm", "dedup",
          "multimodal", "ann"]

# per-layer metric suffix -> unit
LAYER_METRICS = {
    "cold_s": "s", "rerun_s": "s", "self_s": "s", "plan_s": "s",
    "jobs": "count", "tasks": "count", "shuffle_mb": "MB",
    "spill_mb": "MB", "busy_ratio": "ratio", "max_task_s": "s",
}

MB = 1e6

# The first rerun passes still carry JIT warm-up (pass times keep falling
# through them), so rerun medians start after these.
WARM_UP = 2


def steady_reruns(passes):
    """Rerun pass numbers past the warm-up."""
    return sorted({p["pass"] for p in passes if p["pass"] > WARM_UP})


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them;
    a single value is its own quartiles."""
    vals = list(values)
    if not vals:
        raise ValueError("no values")
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"],
        span["end"])


def attribute(t, calls):
    """Id of the call whose window holds epoch-ms time `t`, or None.

    Calls run one at a time, so their windows do not overlap; Spark
    stamps events in whole milliseconds, so a window is widened to whole
    milliseconds. `calls` is sorted by start."""
    for c in calls:
        if math.floor(c["start"]) <= t <= math.ceil(c["end"]):
            return c["id"]
        if math.floor(c["start"]) > t:
            break
    return None


def attribute_jobs(jobs, calls):
    """Set each job's `parent` to the call it ran under. On a shared
    millisecond boundary the call named by the job's group wins."""
    calls = sorted(calls, key=lambda c: c["start"])
    for j in jobs:
        first = attribute(j["start"], calls)
        if first is None:
            j["parent"] = "run"
            continue
        nxt = [c["id"] for c in calls if c["id"] != first
               and math.floor(c["start"]) <= j["start"]
               <= math.ceil(c["end"])]
        j["parent"] = j["group"] if j.get("group") in nxt else first
    return jobs


def check_calls(calls, reference):
    """Mark each call `verified` and return the failures.

    A call fails when it threw, when its call is missing from the
    reference, when its row count differs, or, unless the reference marks
    it rows-only, when its row hash differs."""
    failures = []
    for c in calls:
        ref = reference.get(c["name"])
        why = None
        if not c.get("ok"):
            why = c.get("error", "threw")
        elif ref is None:
            why = "no reference value"
        elif c["rows"] != ref["rows"]:
            why = f"rows {c['rows']} != {ref['rows']}"
        elif not ref["rows_only"] and c["hash"] != ref["hash"]:
            why = f"hash {c['hash']} != {ref['hash']}"
        c["verified"] = why is None
        if why is not None:
            failures.append({"call": c["name"], "pass": c["pass"],
                             "why": why})
    return failures


def pass_seconds(pass_id, calls):
    """Seconds of a pass's verified calls: from each call's start to its
    verified result, so a failed call and the harness's bookkeeping between
    calls count in no timing."""
    return sum(c["end"] - c["start"] for c in calls
               if c["parent"] == pass_id and c["verified"]) / 1e3


def end_to_end(setups, passes, calls, meta):
    """The untraced run's end-to-end metrics."""
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (pass_seconds("p0", calls), "s"),
        "rerun_s": (statistics.median(
            [pass_seconds(f"p{i}", calls) for i in steady_reruns(passes)]),
            "s"),
        "cache_mb": (meta["cache_bytes"] / MB, "MB"),
    }


def call_costs(calls, jobs, cores):
    """Per-call cost of the cold-pass calls: wall, Spark counts, the
    longest task and executor busy share. `jobs` carry `parent` from
    `attribute_jobs`."""
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["parent"], []).append(j)
    out = {}
    for c in calls:
        if c["pass"] != 0:
            continue
        cj = jobs_of.get(c["id"], [])
        wall_ms = c["end"] - c["start"]
        out[c["id"]] = {
            "cold_s": wall_ms / 1e3,
            "self_s": self_time(c, cj) / 1e3,
            "jobs": len(cj),
            "tasks": sum(j["tasks"] for j in cj),
            "shuffle_mb": sum(j["shuffle_bytes"] for j in cj) / MB,
            "spill_mb": sum(j["spill_bytes"] for j in cj) / MB,
            "run_ms": sum(j["run_ms"] for j in cj),
            "max_task_s": max([j["max_task_ms"] for j in cj], default=0)
            / 1e3,
            "busy_ratio": sum(j["run_ms"] for j in cj) / (wall_ms * cores)
            if wall_ms else 0.0,
        }
    return out


def per_layer(passes, calls, jobs, plans, meta):
    """The traced run's per-layer metrics, every layer present (0 for a
    layer the workload does not call), plus `jvm.gc_s` and the traced
    run's own cold and rerun pass times, the traced side of the tracing
    overhead. `jobs` carry `parent` from `attribute_jobs`."""
    cores = meta["cores"]
    ok = [c for c in calls if c["verified"]]
    cost = call_costs(ok, jobs, cores)
    rerun_ids = steady_reruns(passes)
    calls_sorted = sorted(ok, key=lambda c: c["start"])
    plan_ms = {}
    for p in plans:
        cid = attribute(p["start"], calls_sorted)
        if cid is not None:
            plan_ms[cid] = plan_ms.get(cid, 0) + p["plan_ms"]

    def median_over_reruns(mine, value):
        return statistics.median(
            [sum(value(c) for c in mine if c["pass"] == i)
             for i in rerun_ids]) if rerun_ids and mine else 0.0

    out = {}
    for layer in LAYERS:
        mine = [c for c in ok if c["layer"] == layer]
        cold = [cost[c["id"]] for c in mine if c["pass"] == 0]
        cold_s = sum(x["cold_s"] for x in cold)
        vals = {
            "cold_s": cold_s,
            "rerun_s": median_over_reruns(
                mine, lambda c: (c["end"] - c["start"]) / 1e3),
            "self_s": sum(x["self_s"] for x in cold),
            "plan_s": median_over_reruns(
                mine, lambda c: plan_ms.get(c["id"], 0) / 1e3),
            "jobs": sum(x["jobs"] for x in cold),
            "tasks": sum(x["tasks"] for x in cold),
            "shuffle_mb": sum(x["shuffle_mb"] for x in cold),
            "spill_mb": sum(x["spill_mb"] for x in cold),
            "busy_ratio": sum(x["run_ms"] for x in cold)
            / (cold_s * 1e3 * cores) if cold_s else 0.0,
            "max_task_s": max([x["max_task_s"] for x in cold], default=0.0),
        }
        for k, unit in LAYER_METRICS.items():
            out[f"{layer}.{k}"] = (vals[k], unit)
    out["jvm.gc_s"] = (meta["gc_ms"] / 1e3, "s")
    e2e = end_to_end([0.0], passes, calls, meta)
    out["trace.wall_s"] = e2e["wall_s"]
    out["trace.rerun_s"] = e2e["rerun_s"]
    return out


def overhead(untraced, traced):
    """Tracing overhead per end-to-end time: the median over seeds run both
    ways of traced minus untraced seconds. Each argument maps a seed to
    {"wall_s": s, "rerun_s": s}; the traced side's are its `trace.*`."""
    seeds = sorted(set(untraced) & set(traced))
    if not seeds:
        return {}
    return {k: {"median_s": statistics.median(
                    [traced[s][k] - untraced[s][k] for s in seeds]),
                "seeds": seeds}
            for k in ("wall_s", "rerun_s")}
