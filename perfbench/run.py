#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload research-sf0.1 --seed 1 \
        --seconds 30 --trace 0

Builds the engine and the JVM harness from source with sbt (once per
source state; the classpath is cached in `.bench_build/`), then launches
the harness straight from the compiled classpath at local[nproc]. The
seed permutes the call order inside each pass; the program only ever sees
the read-only fixture. Every call's row count and row hash are compared
with `perfbench/reference/<sf>.json`.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics. The last stdout line is one JSON object; the full result and
the span trace go to `.bench_build/results/` and `.bench_build/traces/`.
The exit code is 0 only when every call was verified.
`--record-reference` rewrites the reference values of the workload's calls
from this run (all passes must agree) instead of checking them.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import stats  # noqa: E402

# the repo's read-only fixture root (TESTDATA.md)
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
HEAP = "6g"
SETUPS = 3          # set-ups per untraced run: two set-up-only JVMs + the run
RERUN_PLANS = 60    # rerun orders handed to the JVM; it stops on time
JVM_TIMEOUT = 150   # seconds, so a run ends inside its 180 s limit

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repo's build.sbt; Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def _source_files():
    """Every file the build reads: both build definitions and sources."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
             os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError(f"program sources not found under {ROOT}/src")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp and all(
                os.path.exists(p) for p in c["classpath"].split(os.pathsep)):
            return c["classpath"]
    tmp = os.path.join(BUILD, "tmp", "sbt")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, timeout=800)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        raise BenchError(f"sbt build failed (see {BUILD}/sbt.log)")
    classpath = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


# ---- JVM -------------------------------------------------------------------------

def jvm_cmd(classpath, tmp, *args):
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={tmp}",
             "-cp", classpath, "perfbench.Harness", *args])


def launch(classpath, tmp, jvm_log, *args):
    """Start the harness; return (seconds from launch to READY, the
    harness's own [JVM start, session, registry] milliseconds, process).
    The caller waits for the process."""
    t0 = time.perf_counter()
    p = subprocess.Popen(jvm_cmd(classpath, tmp, *args),
                         stdout=subprocess.PIPE, stderr=jvm_log,
                         stdin=subprocess.DEVNULL, text=True, cwd=ROOT)
    for line in p.stdout:
        if line.startswith("READY"):
            secs = time.perf_counter() - t0
            return secs, [float(x) for x in line.split()[1:]], p
    p.wait()
    raise BenchError(f"harness exited {p.returncode} before it was ready")


def finish(p, deadline):
    try:
        p.stdout.read()
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError("harness timed out")
    if p.returncode != 0:
        raise BenchError(f"harness exited {p.returncode}")


# ---- run ----------------------------------------------------------------------------

def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return p.stdout.strip() or None


def plan_lines(calls, seed):
    """Pass 0 is the cold pass; every pass is its own seeded permutation."""
    rng = random.Random(seed)
    out = []
    for i in range(1 + RERUN_PLANS):
        order = list(calls)
        rng.shuffle(order)
        out += [f"{i}\t{c}" for c in order]
    return out


def read_records(path):
    recs = {"call": [], "pass": [], "job": [], "plan": [], "meta": []}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            recs[r["kind"]].append(r)
    return recs


def run(args, workload):
    classpath = build()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tmp = os.path.join(BUILD, "tmp", run_id)
    for d in ("logs", "results", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    load_start = loadavg()
    sf_dir = os.path.join(TESTDATA, workload["sf"])
    plan = os.path.join(tmp, "plan.tsv")
    out = os.path.join(tmp, "records.jsonl")
    with open(plan, "w") as fh:
        fh.write("\n".join(plan_lines(workload["calls"], args.seed)) + "\n")
    jvm_log_path = os.path.join(BUILD, "logs", run_id + ".log")
    setups, setup_parts = [], []
    try:
        with open(jvm_log_path, "w") as jvm_log:
            deadline = time.monotonic() + JVM_TIMEOUT
            n_setup = SETUPS - 1 if args.trace == 0 else 0
            for _ in range(n_setup):
                secs, parts, p = launch(classpath, tmp, jvm_log, "setup")
                finish(p, deadline)
                setups.append(secs)
                setup_parts.append(parts)
            secs, parts, p = launch(classpath, tmp, jvm_log, "run", sf_dir,
                                    plan, str(args.seconds), str(args.trace),
                                    out)
            setups.append(secs)
            setup_parts.append(parts)
            finish(p, deadline)
        recs = read_records(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    meta = recs["meta"][0]
    calls, passes = recs["call"], recs["pass"]

    ref_path = os.path.join(HERE, "reference", workload["sf"] + ".json")
    if args.record_reference:
        record_reference(ref_path, calls)
    with open(ref_path) as fh:
        reference = json.load(fh)
    failures = stats.check_calls(calls, reference)

    if args.trace:
        stats.attribute_jobs(recs["job"], calls)
        metrics = stats.per_layer(passes, calls, recs["job"], recs["plan"],
                                  meta)
    else:
        metrics = stats.end_to_end(setups, passes, calls, meta)
    attempted, failed = len(calls), len(failures)
    env = {
        "nproc": len(os.sched_getaffinity(0)), "cores": meta["cores"],
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "heap_max_bytes": meta["heap_max_bytes"],
        "spark_version": meta["spark_version"],
        "java_version": meta["java_version"],
        "scala_version": meta["scala_version"],
        "git_commit": git_commit(), "sf_dir": sf_dir,
        "rerun_passes": meta["rerun_passes"], "setups_s": setups,
        "setup_jvm_session_registry_ms": setup_parts,
    }
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "env": env,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
        "failures": failures,
    }
    with open(os.path.join(BUILD, "results", run_id + ".json"), "w") as fh:
        json.dump(result, fh, indent=1)
    write_trace(os.path.join(BUILD, "traces", run_id + ".jsonl"), run_id,
                meta, passes, calls, recs["job"])
    return result


def record_reference(path, calls):
    ref = {}
    if os.path.isfile(path):
        with open(path) as fh:
            ref = json.load(fh)
    got = {}
    for c in calls:
        if not c["ok"]:
            raise BenchError(f"{c['name']} threw: {c['error']}")
        val = {"rows": c["rows"], "hash": c["hash"],
               "rows_only": c["rows_only"]}
        prev = got.setdefault(c["name"], val)
        if prev["rows"] != val["rows"] or (
                not val["rows_only"] and prev["hash"] != val["hash"]):
            raise BenchError(f"{c['name']} differs between passes")
    ref.update(got)
    with open(path, "w") as fh:
        json.dump(dict(sorted(ref.items())), fh, indent=1)
        fh.write("\n")
    log(f"recorded {len(got)} reference values in {path}")


def write_trace(path, run_id, meta, passes, calls, jobs):
    """Spans (name, start, end, parent, run id) as JSONL: the run, its
    passes, their calls and, in a traced run, the Spark jobs of each call.
    Times are epoch milliseconds."""
    with open(path, "w") as fh:
        def span(**kw):
            fh.write(json.dumps({"run": run_id, **kw}) + "\n")
        span(id="run", name="run", parent=None, start=meta["start"],
             end=meta["end"])
        for p in passes:
            span(id=p["id"], name="cold" if p["pass"] == 0 else "rerun",
                 parent="run", start=p["start"], end=p["end"])
        for c in calls:
            span(id=c["id"], name=c["name"], layer=c["layer"],
                 parent=c["parent"], start=c["start"], end=c["end"],
                 verified=c["verified"])
        for j in jobs:
            span(id=j["id"], name="job", parent=j["parent"],
                 start=j["start"], end=j["end"], tasks=j["tasks"],
                 run_ms=j["run_ms"], shuffle_bytes=j["shuffle_bytes"],
                 spill_bytes=j["spill_bytes"], max_task_ms=j["max_task_ms"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-reference", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if args.workload not in workloads:
        log(f"unknown workload {args.workload}; "
            f"choose from {', '.join(workloads)}")
        return 2
    try:
        res = run(args, workloads[args.workload])
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 1
    for f in res["failures"]:
        log(f"FAILED {f['call']} (pass {f['pass']}): {f['why']}")
    shown = " ".join(f"{k}={m['value']:.4g} {m['unit']}"
                     for k, m in res["metrics"].items())
    env = res["env"]
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={env['nproc']} loadavg={env['loadavg_start']}->"
          f"{env['loadavg_end']} heap={env['heap_max_bytes'] / 2**30:.1f}GiB "
          f"spark={env['spark_version']} java={env['java_version']} "
          f"commit={env['git_commit']}")
    print(f"{args.workload} fail_ratio={res['fail_ratio']:.4g} ratio "
          f"({res['failed']}/{res['attempted']}) {shown}")
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
