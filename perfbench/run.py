"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 10 --trace 0

Closed loop, one client: the next operation starts only after the
previous one completes. One operation calls one public entry point of
the engine (a catalog function `(spark, sf_dir) -> DataFrame` and its
final action; `pipeline.etl_pipeline_run` through the catalog; and
`cache.release_caches` at pass starts where the workload asks for it).
A pass runs every operation of the workload once, in an order the seed
shuffles. The seed also writes the input tables (perfbench/fixtures.py)
and sets `generator.SEED` for the ETL's generated sources; the engine
receives only those inputs.

The run builds a `local[<cpus>]` session, runs one checked pass (each
query's first execution against its DuckDB twin) and the workload's
warm-up passes (all charged to `setup_s`), then measures whole passes
until `--seconds` of operation time have passed. Every later execution
is checked against the first; a mismatch or an error counts as failed.
Checks run outside the timed region.

The metric names and units come from BENCHMARK.json. With `--trace 0`
the last stdout line carries the end-to-end metrics; with `--trace 1`
it carries the per-layer metrics (perfbench/tracing.py),
measured passes alternate untraced and traced, and the spans are
written to .perfbench_out/. Everything the run writes stays inside the
checkout (.perfbench_work/, removed at exit). Exits 2 when the engine is
not present in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shlex
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402

#: Measurement stops after this many passes even when operations keep
#: failing fast, so a broken engine still ends the run with a result.
MAX_PASSES = 100


def load_spec() -> dict:
    """BENCHMARK.json: the one list of workloads, metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def sandbox(work: str, event_log: str | None) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    `work`. Must run before pyspark or the engine is imported: the
    engine derives its scratch paths from tempfile at import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    # Python workers import the engine from the checkout (the session's
    # own package shipping writes a zip outside it; see start_session).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        # Compiler threads live for the whole run, so cpu_seconds() can
        # read their time per thread.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _proc_stats() -> dict[int, tuple[str, list[str]]]:
    """(command name, the fields after it) of every /proc/<pid>/stat."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        cut = stat.rfind(")")
        out[int(entry)] = (stat[stat.find("(") + 1:cut], stat[cut + 2:].split())
    return out


def descendants(pid: int, stats: dict | None = None) -> list[int]:
    parent = {p: int(f[1]) for p, (_, f) in (stats or _proc_stats()).items()}
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> dict[str, float]:
    """CPU time so far of this process (the driver), of the JVM's JIT
    compiler threads, of the rest of the JVM and of the Python workers,
    each including the children it has reaped. Time the hypervisor
    steals is not in it."""
    stats = _proc_stats()
    me = os.getpid()
    out = dict.fromkeys(("driver", "jvm", "jit", "workers"), 0.0)
    for p in (me, *descendants(me, stats)):
        if p in stats:
            comm, f = stats[p]
            role = "driver" if p == me else "jvm" if comm == "java" else "workers"
            # utime, stime, cutime, cstime
            out[role] += sum(int(x) for x in f[11:15]) / _CLK_TCK
            if role == "jvm":
                out["jit"] += _jit_seconds(p)
    out["jvm"] -= out["jit"]
    return out


def _jit_seconds(jvm: int) -> float:
    """CPU time of the JVM's JIT compiler threads. sandbox() keeps them
    alive for the whole run, so none of their time leaves with a thread."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        cut = stat.rfind(")")
        if "CompilerThre" in stat[:cut]:
            ticks += sum(int(x) for x in stat[cut + 2:].split()[11:13])
    return ticks / _CLK_TCK


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process's descendants (the JVM
    and its Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        #: Peaks of the sum, of the largest process (the JVM) and of the rest.
        self.peak = self.peak_largest = self.peak_rest = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> list[int]:
        rss = []
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss.append(int(fh.read().split()[1]) * self._page)
            except (OSError, ValueError, IndexError):
                pass
        return rss

    def run(self) -> None:
        while not self._stop_event.is_set():
            rss = self.sample()
            if rss:
                self.peak = max(self.peak, sum(rss))
                self.peak_largest = max(self.peak_largest, max(rss))
                self.peak_rest = max(self.peak_rest, sum(rss) - max(rss))
            self._stop_event.wait(self.period)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def _minus(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: a[k] - b[k] for k in a}


def op_cpu(op: dict, jit: bool = False) -> float:
    """An operation's CPU seconds; the JIT compiler's only if `jit`. The
    compiler's load falls over tens of operations as the JVM warms up,
    so it tells more about the run's age than about the operation."""
    return sum(v for k, v in op["cpu"].items() if jit or k != "jit")


def tail(latencies: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond): the highest whole percentile
    with at least 10 samples beyond it, never below the median."""
    import numpy as np

    n = len(latencies)
    pct = max(50, min(99, int(100 * (1 - 10 / n)))) if n else 50
    value = float(np.percentile(latencies, pct))
    return value, pct, sum(1 for x in latencies if x > value)


class Run:
    """State of one benchmark run: session, inputs, checks and the
    record of every operation."""

    def __init__(self, args, workload, work: str) -> None:
        self.args, self.wl, self.work = args, workload, work
        self.rng = random.Random(args.seed)
        self.ops: list[dict] = []
        self.first: dict[str, tuple] = {}
        self.problems: list[str] = []
        self.corrupt_pending = args.inject == "corrupt"
        self.recorder = self.listener = None

    # -- set-up ---------------------------------------------------------
    def inputs(self) -> None:
        from simpleetlpipeline_spark import generator

        self.sf_dir = os.path.join(self.work, f"sf{self.wl.sf}")
        if self.wl.name == "etl_batch":
            # etl_pipeline_run reads only the scale from the dir name.
            generator.SEED = self.args.seed
            os.makedirs(self.sf_dir, exist_ok=True)
            self.rows_in = {}
            return
        from fixtures import write_fixture

        counts = write_fixture(self.sf_dir, self.args.seed, self.wl.sf)
        from simpleetlpipeline_spark.plans.catalog import ORACLE_SQL

        # Rows an operation reads: those of the tables its DuckDB twin
        # reads (the twin is the query's specification).
        self.rows_in = {
            name: sum(n for t, n in counts.items()
                      if re.search(rf"\b{t}\b", ORACLE_SQL[name]))
            for name in self.wl.ops}

    def start_session(self) -> tuple[float, float]:
        """Start the session; returns its wall and CPU seconds."""
        from simpleetlpipeline_spark.session import get_spark
        from simpleetlpipeline_spark.streaming import windows

        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        start_s = time.perf_counter() - t0
        start_cpu = sum(_minus(cpu_seconds(), cpu0).values())  # JIT included
        self.spark.sparkContext.setLogLevel("ERROR")
        # Workers import the engine through PYTHONPATH (see sandbox), so
        # skip ensure_session_conf's zip shipping, which writes to /tmp.
        # Replay checkpoints take the engine's path for hosts without
        # tmpfs: Spark's temp dir, which sandbox() put in the checkout.
        self.spark._setl_pkg_shipped = True
        windows._REPLAY_CKPT_ROOT = None
        if self.args.trace:
            import tracing

            self.recorder = tracing.Recorder()
            self.recorder.install()
            self.listener = tracing.stream_listener(self.spark)
        from oracle import Oracle

        self.oracle = Oracle(self.sf_dir, os.path.join(self.work, "duck"))
        return start_s, start_cpu

    def stop_session(self) -> None:
        """Stop the session and its JVM, and wait until both have ended."""
        from pyspark import SparkContext

        if self.recorder:
            self.recorder.uninstall()
        if hasattr(self, "oracle"):
            self.oracle.close()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — must not leave the JVM
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)

    # -- operations -----------------------------------------------------
    def run_pass(self, traced: bool = False) -> dict:
        rec = {"ops": [], "released": 0, "release_s": 0.0, "traced": traced}
        if self.wl.release_caches:
            from simpleetlpipeline_spark import cache

            t0 = time.perf_counter()
            rec["released"] = cache.release_caches()
            rec["release_s"] = time.perf_counter() - t0
        for name in self.rng.sample(self.wl.ops, len(self.wl.ops)):
            rec["ops"].append(self.run_op(name, traced))
        # Failed operations count too: their time was spent all the same.
        rec["time"] = rec["release_s"] + sum(o["lat"] for o in rec["ops"])
        return rec

    def run_op(self, name: str, traced: bool) -> dict:
        from simpleetlpipeline_spark.plans.catalog import QUERIES

        op = {"id": len(self.ops), "name": name, "traced": traced, "ok": False,
              "lat": 0.0, "cpu": {}, "build": 0.0, "exec": 0.0, "rows_in": 0,
              "batches": []}
        self.ops.append(op)
        tracer = self.recorder
        if tracer:
            from tracing import next_job_id

            op["job_lo"] = next_job_id(self.spark)
            tracer.begin_op(op["id"])
            tracer.enabled = traced
        span = tracer.span if tracer else lambda _name: nullcontext()
        op["t0"] = time.time()
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            with span(f"op.{name}"):
                if self.args.inject == "raise":
                    raise RuntimeError("injected failure (self-test)")
                with span("plans.build"):
                    df = QUERIES[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with span("plans.exec"):
                    rows = df.collect()
                t2 = time.perf_counter()
            cols = df.columns
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            op["t1"] = time.time()
            op["lat"] = time.perf_counter() - t0
            op["cpu"] = _minus(cpu_seconds(), cpu0)
            self.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return op
        finally:
            if tracer:
                tracer.enabled = False
                op["job_hi"] = next_job_id(self.spark)
        op["t1"] = time.time()
        op.update(build=t1 - t0, exec=t2 - t1, lat=t2 - t0,
                  cpu=_minus(cpu_seconds(), cpu0))
        if self.listener and name.startswith("streaming_"):
            op["batches"] = self.listener.drain()
        op["ok"] = self.check(name, cols, [tuple(r) for r in rows])
        op["rows_in"] = (sum(r["records_processed"] for r in rows)
                         if self.wl.name == "etl_batch" else self.rows_in[name])
        return op

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        from oracle import mismatch

        first = self.first.get(name)
        if first is None:
            self.first[name] = (cols, rows)
        if self.corrupt_pending:
            # Self-test hook: a deliberately wrong result must fail.
            self.corrupt_pending = False
            rows = rows + [tuple(None for _ in cols)]
        if first is None:
            problem = (self.oracle.check(name, cols, rows)
                       if name in self.oracle.sql else None)
        else:
            problem = mismatch(cols, rows, *first)
        if problem:
            self.problems.append(f"{name}: {problem}"[:300])
        return problem is None

    # -- protocol -------------------------------------------------------
    def warm_up(self) -> list[dict]:
        return [self.run_pass() for _ in range(1 + self.wl.warm_passes)]

    def measure(self) -> list[dict]:
        passes: list[dict] = []
        elapsed = 0.0
        # A traced run alternates untraced and traced passes in ABBA
        # order, so passes getting faster over the run bias neither side.
        least = 4 if self.args.trace else 1
        while True:
            traced = bool(self.args.trace) and len(passes) % 4 in (1, 2)
            passes.append(self.run_pass(traced))
            elapsed += passes[-1]["time"]
            # Whole passes keep every operation equally weighted.
            if len(passes) >= least and (elapsed >= self.args.seconds
                                         or len(passes) >= MAX_PASSES):
                return passes


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    """End-to-end figures over the operations that passed. BENCHMARK.json
    gates some of them; the wall-clock ones go to the detail line only
    (see README.md). With no operation passed, the gated figures read 0
    and the result reads correct=false."""
    lat = [o["lat"] for p in passes for o in p["ops"] if o["ok"]]
    if not lat:
        return {"setup_s": 0.0, "cpu_s_per_op": 0.0, "measured_ops": 0}
    tail_s, pct, beyond = tail(lat)

    def per_pass(rate) -> float:
        # Median over passes: one slow pass on a shared host moves it less.
        return statistics.median(
            rate(ok, p["time"]) for p in passes
            if (ok := [o for o in p["ops"] if o["ok"]]))

    by_query: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"]:
            if o["ok"]:
                by_query.setdefault(o["name"], []).append(o["lat"])
    return {
        "setup_s": setup_s,
        "cpu_s_per_op": per_pass(lambda ok, t: sum(op_cpu(o) for o in ok) / len(ok)),
        "op_p50_s": statistics.median(lat),
        "ops_per_min": 60.0 * per_pass(lambda ok, t: len(ok) / t),
        "rows_per_s": per_pass(lambda ok, t: sum(o["rows_in"] for o in ok) / t),
        # Too few operations fit in a run for a tail above the median.
        "op_tail_s": tail_s, "op_tail_percentile": pct, "op_tail_beyond": beyond,
        "measured_ops": len(lat),
        "op_p50_s_by_query": {k: statistics.median(v) for k, v in sorted(by_query.items())},
    }


def per_layer(run: Run, passes: list[dict], start_s: float, warm_s: float,
              peak_rss: int, event_log: str) -> dict:
    import tracing

    ops = [o for p in passes for o in p["ops"]]
    done = [o for o in ops if o["ok"]]
    traced = [o for o in done if o["traced"]]
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731

    spans = run.recorder.self_times()
    by_op: dict[int, dict[str, float]] = {}
    for s in spans:
        d = by_op.setdefault(s["op"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + s["dur"]

    def span_mean(name: str) -> float:
        return mean([by_op.get(o["id"], {}).get(name, 0.0) for o in traced])

    def chain_overlap(op: dict) -> float:
        chains = [s for s in spans if s["op"] == op["id"] and (
            s["name"] == "io.write_csv" or s["name"].startswith("pipeline.load_table."))]
        if not chains:
            return 0.0
        wall = max(s["end"] for s in chains) - min(s["start"] for s in chains)
        return sum(s["dur"] for s in chains) / wall

    stats = tracing.event_log_stats(event_log, [o for o in ops if "job_hi" in o])
    first = [stats[o["id"]] for o in passes[0]["ops"]]
    ev = [stats[o["id"]] for o in done]
    counters = [run.recorder.counters.get(o["id"], {}) for o in traced]
    csv_b = mean([c.get("io.csv_bytes", 0) for c in counters])
    pq_b = mean([c.get("io.parquet_bytes", 0) for c in counters])

    first_use, reuse = [], []
    for p in passes:
        for family in run.wl.cache_families.values():
            lats = [o["lat"] for o in p["ops"] if o["name"] in family and o["ok"]]
            first_use += lats[:1]
            reuse += lats[1:]

    streams = [o for o in done if o["batches"]]
    batches = [b for o in streams for b in o["batches"]]
    untraced_t = [p["time"] for p in passes if not p["traced"]]
    traced_t = [p["time"] for p in passes if p["traced"]]

    values = {
        "memory.peak_rss_mb": peak_rss / 2**20,
        **{f"cpu.{role}_s_per_op": mean([o["cpu"][role] for o in done])
           for role in ("driver", "jvm", "jit", "workers")},
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "plans.build_s": med([o["build"] for o in done]),
        "plans.exec_s": med([o["exec"] for o in done]),
        "spark.jobs_per_op": mean([s["jobs"] for s in first]),
        "spark.stages_per_op": mean([s["stages"] for s in first]),
        "spark.tasks_per_op": mean([s["tasks"] for s in first]),
        "spark.task_busy_s_per_op": mean([s["busy_s"] for s in ev]),
        "spark.driver_gap_s_per_op": mean(
            [o["t1"] - o["t0"] - s["job_s"] for o, s in zip(done, ev)]),
        "spark.shuffle_bytes_per_op": mean([s["shuffle_bytes"] for s in ev]),
        "spark.spill_bytes_per_op": mean([s["spill_bytes"] for s in ev]),
        "functions.python_stage_s_per_op": mean([s["python_stage_s"] for s in ev]),
        "cache.first_use_s": med(first_use),
        "cache.reuse_s": med(reuse),
        "cache.released_per_pass": med([p["released"] for p in passes]),
        "generator.write_csv_s": span_mean("io.write_csv"),
        **{f"pipeline.load_table_s.{t}": span_mean(f"pipeline.load_table.{t}")
           for t in ("customers", "products", "orders", "order_items")},
        "io.append_table_s": span_mean("io.append_table"),
        "quality.distinct_row_count_s": span_mean("quality.distinct_row_count"),
        "pipeline.rollup_s": span_mean("pipeline.rollup"),
        "pipeline.chain_overlap": mean([chain_overlap(o) for o in traced]),
        "io.csv_bytes": csv_b,
        "io.parquet_bytes": pq_b,
        "io.stored_bytes_per_src_byte": pq_b / csv_b if csv_b else 0.0,
        "streaming.batches_per_op": mean([len(o["batches"]) for o in streams]),
        "streaming.add_batch_ms": mean([b["ms"].get("addBatch", 0) for b in batches]),
        "streaming.planning_ms": mean([b["ms"].get("queryPlanning", 0) for b in batches]),
        "streaming.start_s": mean([
            o["lat"] - sum(b["ms"].get("triggerExecution", 0) for b in o["batches"]) / 1000
            for o in streams]),
        "streaming.state_rows": max([b["state_rows"] for b in batches], default=0),
        "trace.overhead_frac": (mean(traced_t) / mean(untraced_t) - 1
                                if traced_t and untraced_t else 0.0),
    }
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    ap.add_argument("--inject", choices=("corrupt", "raise"), default=None,
                    help="self-test: corrupt the first checked result, or "
                         "make every operation raise")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "simpleetlpipeline_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    if args.sf is not None:
        from dataclasses import replace

        wl = replace(wl, sf=args.sf, warm_passes=0)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    sandbox(work, event_log)
    try:
        return _run(args, wl, work, event_log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, event_log: str | None) -> int:
    from bench import _host_sample, noise_fields

    host_start = _host_sample()
    run = Run(args, wl, work)
    run.inputs()
    sampler = RssSampler()
    sampler.start()
    try:
        start_s, start_cpu = run.start_session()
        warm = run.warm_up()
        warm_s = sum(p["time"] for p in warm)
        passes = run.measure()
    finally:
        peak_rss = sampler.stop()
        if hasattr(run, "spark"):
            run.stop_session()
    host_end = _host_sample()

    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    # Set-up is charged in CPU seconds, like the operations; its wall
    # time goes to the detail line.
    e2e = end_to_end(passes, start_cpu + sum(op_cpu(o, jit=True)
                                             for p in warm for o in p["ops"]))
    spec = load_spec()
    if args.trace:
        values = per_layer(run, passes, start_s, warm_s, peak_rss, event_log)
        wanted = spec["per_layer"]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_path = os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json")
        run.recorder.write(span_path)
    else:
        values, wanted = e2e, spec["end_to_end"]
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "sf": wl.sf, "cpus": _cpus(), "warm_passes": wl.warm_passes,
        "setup_wall_s": start_s + warm_s,
        "start_s": start_s, "warm_pass_s": [p["time"] for p in warm],
        "first_pass_s_by_query": {o["name"]: o["lat"] for o in warm[0]["ops"]},
        "pass_s": [p["time"] for p in passes],
        "pass_cpu_s": [sum(op_cpu(o) for o in p["ops"]) for p in passes],
        "pass_jit_cpu_s": [sum(o["cpu"].get("jit", 0.0) for o in p["ops"]) for p in passes],
        "warm_pass_cpu_s": [sum(op_cpu(o, jit=True) for o in p["ops"]) for p in warm],
        **e2e,
        "failed_frac": failed / attempted, "problems": run.problems[:10],
        "peak_rss_mb_jvm": sampler.peak_largest / 2**20,
        "peak_rss_mb_workers": sampler.peak_rest / 2**20,
        "noise": noise_fields(host_start, host_end, {}),
    }
    if args.trace:
        detail["spans"] = span_path
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
