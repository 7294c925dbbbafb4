"""Profile catalog queries from one Spark event log: wall time, job
structure and every executed plan.

    python tools/profile_queries.py [--sf DIR] [--repeat N] [--plans DIR] query...

Starts the engine's own session (session.get_spark) with the event
log switched on, warms up on top_products, then runs each named
query's `fn(spark, sf_dir).count()` --repeat times, one at a time.
Each run owns every job (with the stages it ran) and every SQL
execution submitted inside its wall-clock window; the report gives
min/median wall per query and, per run, jobs, stages, tasks, input
bytes and shuffle read/write bytes, then one line per job. Counts and
bytes are immune to host noise; wall times are indicative only.

--plans DIR writes DIR/<query>.txt: per run, the formatted physical
plan of the returned frame, then that of every SQL execution, in
order. Eager intermediates (persist-then-count caches, per-round
frames of driver loops) appear as their own executions before the
final count.

The tool imports the checkout it lives in and prints that package's
path first, so an A/B log names the tree it measured. --sf defaults
to $SPARK_GRAFT_SF_DIR. (Not named profile.py: Python puts a script's
directory first on sys.path, so that name would shadow the stdlib
`profile` module, which pyspark imports through cProfile, for every
tool in this directory.)
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SQL_EXECUTION_START = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart")

#: Reported byte counts, each the sum of these stage accumulables.
BYTES = {
    "input": ["internal.metrics.input.bytesRead"],
    "shuffle_read": ["internal.metrics.shuffle.read.remoteBytesRead",
                     "internal.metrics.shuffle.read.localBytesRead"],
    "shuffle_write": ["internal.metrics.shuffle.write.bytesWritten"],
}
BYTE_METRICS = [m for ms in BYTES.values() for m in ms]


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application log in `log_dir`: a single
    JSON-lines file, or Spark's rolling layout, a directory
    eventlog_v2_<app> of events_<n>_<app> files read in <n> order."""
    (entry,) = os.listdir(log_dir)
    path = os.path.join(log_dir, entry)
    files = [path]
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in
                 sorted(parts, key=lambda f: int(f.split("_")[1]))]
    events = []
    for f in files:
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _window_of(windows: list[tuple[int, int]], t: int) -> int | None:
    """Index of the run window containing epoch-ms `t`: the last one
    starting at or before it, if it has not ended yet."""
    for i in range(len(windows) - 1, -1, -1):
        start, end = windows[i]
        if start <= t:
            return i if t <= end else None
    return None


def profile_runs(events: list[dict],
                 windows: list[tuple[int, int]]) -> list[dict]:
    """Per run window (start_ms, end_ms): its jobs, in submission
    order, and its SQL executions' plans, in start order.

    A job's stages are the completed stages it lists and no earlier
    job listed: a stage reused from an earlier job is skipped, not
    run. Each job carries wall ms, stages and tasks run and listed,
    input bytes, shuffle read/write bytes and its last stage's call
    site."""
    runs = [{"jobs": [], "plans": []} for _ in windows]
    jobs, stages = {}, {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"t0": ev["Submission Time"],
                                  "listed": ev["Stage Infos"]}
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages[ev["Stage Info"]["Stage ID"]] = ev["Stage Info"]
        elif kind == SQL_EXECUTION_START:
            i = _window_of(windows, ev["time"])
            if i is not None:
                runs[i]["plans"].append(
                    (ev["executionId"], ev["description"],
                     ev["physicalPlanDescription"]))
    owned: set[int] = set()
    for jid in sorted(jobs):
        job = jobs[jid]
        ids = [s["Stage ID"] for s in job["listed"]]
        ran = [stages[s] for s in ids if s in stages and s not in owned]
        owned.update(ids)
        i = _window_of(windows, job["t0"])
        if i is None:
            continue
        acc = dict.fromkeys(BYTE_METRICS, 0)
        for st in ran:
            for a in st.get("Accumulables", []):
                if a.get("Name") in acc:
                    acc[a["Name"]] += int(a["Value"])
        runs[i]["jobs"].append({
            "job": jid,
            "ms": job.get("t1", job["t0"]) - job["t0"],
            "stages": len(ran),
            "stages_listed": len(ids),
            "tasks": sum(st["Number of Tasks"] for st in ran),
            "tasks_listed": sum(s["Number of Tasks"] for s in job["listed"]),
            "site": ran[-1]["Stage Name"] if ran else "",
            **{k: sum(acc[m] for m in ms) for k, ms in BYTES.items()},
        })
    return runs


def _report(name: str, walls: list[float], runs: list[dict]) -> str:
    lines = [f"== {name}: min={min(walls):.3f}s "
             f"median={statistics.median(walls):.3f}s runs={len(walls)}"]
    for n, (wall, run) in enumerate(zip(walls, runs), 1):
        jobs = run["jobs"]
        total = {k: sum(j[k] for j in jobs) for k in
                 ("stages", "tasks", "input", "shuffle_read",
                  "shuffle_write")}
        lines.append(
            f"  run {n}: {wall:.3f}s jobs={len(jobs)} "
            f"stages={total['stages']} tasks={total['tasks']} "
            f"in={total['input']}B sr={total['shuffle_read']}B "
            f"sw={total['shuffle_write']}B "
            f"executions={len(run['plans'])}")
        lines += [
            f"    job {j['job']:4d} {j['ms']:6d}ms "
            f"stages={j['stages']}/{j['stages_listed']} "
            f"tasks={j['tasks']}/{j['tasks_listed']} in={j['input']}B "
            f"sr={j['shuffle_read']}B sw={j['shuffle_write']}B "
            f"{j['site'][:48]}"
            for j in jobs]
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="testdata directory (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--plans", help="write DIR/<query>.txt plan files")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf DIR or $SPARK_GRAFT_SF_DIR is required")

    import simpleetlpipeline_spark
    from simpleetlpipeline_spark.plans import catalog
    from simpleetlpipeline_spark.session import get_spark

    unknown = [q for q in args.queries if q not in catalog.QUERIES]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")
    print(f"engine: {simpleetlpipeline_spark.__file__}")

    log_dir = tempfile.mkdtemp(prefix="profile_events_")
    try:
        # The event log is launch-time conf: it must reach the JVM
        # before get_spark starts it.
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false "
            + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"))
        spark = get_spark("profile")
        spark.sparkContext.setLogLevel("ERROR")
        catalog.QUERIES["top_products"](spark, args.sf).collect()
        walls: list[float] = []
        windows: list[tuple[int, int]] = []
        returned: list[str] = []
        for name in args.queries:
            fn = catalog.QUERIES[name]
            for _ in range(args.repeat):
                start = time.time()
                t0 = time.perf_counter()
                df = fn(spark, args.sf)
                df.count()
                walls.append(time.perf_counter() - t0)
                windows.append((math.floor(start * 1000),
                                math.ceil(time.time() * 1000)))
                if args.plans:
                    # the frame a consumer gets; the count execution
                    # prunes the columns it does not need
                    returned.append(spark._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        spark.stop()
        runs = profile_runs(read_event_log(log_dir), windows)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    for k, name in enumerate(args.queries):
        part = slice(k * args.repeat, (k + 1) * args.repeat)
        print(_report(name, walls[part], runs[part]))
        if not args.plans:
            continue
        path = os.path.join(args.plans, f"{name}.txt")
        with open(path, "w") as fh:
            for n, (frame, run) in enumerate(
                    zip(returned[part], runs[part]), 1):
                fh.write(f"== run {n}, returned frame ==\n{frame}\n")
                for eid, desc, plan in run["plans"]:
                    title = desc.partition("\n")[0]
                    fh.write(f"== run {n}, execution {eid}: {title} ==\n"
                             f"{plan}\n")
        print(f"  wrote {path}")


if __name__ == "__main__":
    main()
