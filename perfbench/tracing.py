"""Tracing for the benchmark's traced run (`--trace 1`).

Three sources, none of which edits the engine:

- Spans. `Recorder.install()` wraps public functions of the engine's
  modules at runtime (the attribute each caller looks up), so a call
  records its name, start, end, parent span and operation id. The
  parent comes from a thread-local stack; a span opened on a pool
  thread with an empty stack takes the innermost span open on the
  operation's own thread, so the ETL's four table threads keep their
  parent. Spans stay in memory and are written out when the run ends.
- The Spark event log, enabled only in the traced run, read after the
  session stops: jobs, stages, tasks, executor time, shuffle, spill and
  Python-evaluation stages, attributed to operations by the SparkContext
  job-id range around each operation.
- A StreamingQueryListener: per micro-batch durations and state rows.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Recorder:
    """In-memory span recorder; off until `enabled` is set."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[int, dict[str, float]] = {}
        self.enabled = False
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin_op(self, op: int) -> None:
        self.op = op
        self._op_stack = self._stack()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._op_stack[-1] if self._op_stack else None)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self.op,
               "thread": threading.get_ident()}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        """Add `value` to the current operation's counter `name`."""
        if self.enabled and self.op is not None:
            with self._lock:
                counters = self.counters.setdefault(self.op, {})
                counters[name] = counters.get(name, 0) + value

    def patch(self, module, attr: str, replacement) -> None:
        """Replace `module.attr` by `replacement(original, *args, **kwargs)`."""
        original = getattr(module, attr)

        def wrapper(*args, **kwargs):
            return replacement(original, *args, **kwargs)

        wrapper.__wrapped__ = original
        setattr(module, attr, wrapper)
        self._patches.append((module, attr, original))

    def wrap(self, module, attr: str, name) -> None:
        """Replace `module.attr` by a spanned wrapper. `name` is the span
        name, or a function of the call's arguments returning it."""
        def spanned(original, *args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return original(*args, **kwargs)

        self.patch(module, attr, spanned)

    def install(self) -> None:
        """Wrap the engine's layer boundaries the per-layer metrics use."""
        from simpleetlpipeline_spark import io, pipeline
        from simpleetlpipeline_spark.operators import quality

        self.wrap(pipeline, "load_table",
                  lambda spark, table, *a, **k: f"pipeline.load_table.{table}")
        # pipeline binds append_table at import; distinct_row_count is
        # imported inside the calling function.
        self.wrap(pipeline, "append_table", "io.append_table")
        self.wrap(quality, "distinct_row_count", "quality.distinct_row_count")

        # pipeline imports write_csv inside the function that calls it.
        def write_csv(original, df, path, *args, **kwargs):
            with self.span("io.write_csv"):
                original(df, path, *args, **kwargs)
            self.count("io.csv_bytes", dir_bytes(path))

        def rollup(original, spark, config):
            with self.span("pipeline.rollup"):
                out = original(spark, config)
            self.count("io.parquet_bytes", dir_bytes(config.warehouse_dir))
            return out

        self.patch(io, "write_csv", write_csv)
        self.patch(pipeline, "update_calculated_fields", rollup)

    def uninstall(self) -> None:
        while self._patches:
            module, attr, original = self._patches.pop()
            setattr(module, attr, original)

    def self_times(self) -> list[dict]:
        """Spans with `self` = duration minus the time child spans cover
        (children on pool threads can overlap; their union is taken)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered = _union_len(children.get(i, []))
            out.append({**s, "id": i, "dur": s["end"] - s["start"],
                        "self": s["end"] - s["start"] - covered})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.self_times(),
                       "counters": self.counters}, fh)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def next_job_id(spark) -> int:
    """The SparkContext's next job id. Jobs of one operation are the
    id range between its start and end: operations run one at a time
    from one client, so the range holds that operation's jobs only,
    including those its pool threads and streams submit."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def stream_listener(spark):
    """Register and return a StreamingQueryListener that buffers
    per-micro-batch progress until `drain()`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self._cv = threading.Condition()
            self.started = self.terminated = 0
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            with self._cv:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            state = sum(s.numRowsTotal for s in (p.stateOperators or []))
            with self._cv:
                self.batches.append({"ms": dict(p.durationMs or {}),
                                     "rows": p.numInputRows,
                                     "state_rows": state})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated += 1
                self._cv.notify_all()

        def drain(self, timeout: float = 5.0) -> list[dict]:
            """Progress of the queries finished since the last drain;
            waits for the listener bus to deliver their termination."""
            with self._cv:
                self._cv.wait_for(
                    lambda: self.terminated >= self.started, timeout)
                out, self.batches = self.batches, []
                return out

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


_PY_SCOPE = re.compile(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
                       r"|BatchEvalPython|MapInArrow|InPandas")


def event_log_stats(log_dir: str, ops: list[dict]) -> dict[int, dict]:
    """Per-operation Spark figures from the event log in `log_dir`.

    `ops` carry `id`, `job_lo`, `job_hi` (the job-id range) and `t0`,
    `t1` (epoch seconds). Returns {op id: {jobs, stages, tasks, busy_s,
    shuffle_bytes, spill_bytes, python_stage_s, job_s}}, where job_s is
    the union of the operation's job intervals.
    """
    # Spark 4 writes a rolling log: a directory of events_* files.
    files = sorted(os.path.join(root, f)
                   for root, _dirs, names in os.walk(log_dir)
                   for f in names if not f.startswith((".", "appstatus")))
    job_op: dict[int, int] = {}
    for op in ops:
        for j in range(op["job_lo"], op["job_hi"]):
            job_op[j] = op["id"]
    stats = {op["id"]: {"jobs": 0, "stages": 0, "tasks": 0, "busy_s": 0.0,
                        "shuffle_bytes": 0, "spill_bytes": 0,
                        "python_stage_s": 0.0, "_iv": []}
             for op in ops}
    stage_op: dict[int, int] = {}
    job_start: dict[int, float] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = job_op.get(ev["Job ID"])
                    if op is None:
                        continue
                    stats[op]["jobs"] += 1
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerJobEnd":
                    op = job_op.get(ev["Job ID"])
                    if op is not None and ev["Job ID"] in job_start:
                        stats[op]["_iv"].append(
                            (job_start[ev["Job ID"]], ev["Completion Time"] / 1000))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    op = stage_op.get(info["Stage ID"])
                    if op is None:
                        continue
                    stats[op]["stages"] += 1
                    scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
                    if _PY_SCOPE.search(scopes) and "Submission Time" in info:
                        stats[op]["python_stage_s"] += (
                            info["Completion Time"] - info["Submission Time"]) / 1000
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    if op is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    st = stats[op]
                    st["tasks"] += 1
                    st["busy_s"] += m.get("Executor Run Time", 0) / 1000
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
    for op in ops:
        st = stats[op["id"]]
        iv = [(max(lo, op["t0"]), min(hi, op["t1"])) for lo, hi in st.pop("_iv")]
        st["job_s"] = _union_len([(lo, hi) for lo, hi in iv if hi > lo])
    return stats
