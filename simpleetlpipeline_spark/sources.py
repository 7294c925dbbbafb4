"""Pluggable Python data source: a JSONL event-log reader.

The reference's only external source is a CSV file handed to pandas
(S1, main.py:377-400). A migrating pipeline's other ubiquitous feed
is newline-delimited JSON logs; this module implements that feed as
a FIRST-CLASS Spark source via the Python DataSource API (Spark 4):
partition planning (one input partition per log file — the scan
parallelism unit), declared schema, and genuine filter pushdown
(`event_type` predicates are evaluated inside the source, so Spark
never materializes the dropped rows, and file-name date filters
prune whole files before they are opened — the Python-source analog
of parquet row-group pruning and Hive partition pruning).

At 100 TB this is the shape that matters: the source must expose
enough partitions to saturate the cluster (per-file here; a real
deployment splits by byte range), and pushdown must reach the
source, because a Python source that ships every row to the JVM
just to be filtered loses by the Arrow-transfer cost alone.

Not a catalog query: the catalog reads driver testdata; this source
is exercised end-to-end by tests/test_sources.py (write JSONL →
register → read with pushed filters → compare against the DataFrame
JSON reader).
"""

from __future__ import annotations

import json
import os
import re
from typing import Iterator

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    In,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

#: Declared schema of one JSONL event record (mirrors the events
#: testdata table minus the nanos timestamp — ts rides as ISO string
#: and is cast by the caller, keeping the source dependency-free).
JSONL_EVENTS_SCHEMA = (
    "event_id bigint, ts string, user_id bigint, "
    "event_type string, value double"
)

#: Log files are named <anything>-YYYY-MM-DD.jsonl; an EqualTo/In
#: filter on `day` prunes files without opening them.
_FILE_DAY_RE = re.compile(r"(\d{4}-\d{2}-\d{2})\.jsonl$")


def _is_data_file(name: str) -> bool:
    """Hidden-file filter shared by batch and stream readers.

    '.'-prefixed names are in-flight staging files from the writer's
    two-phase commit ('.staging-<attempt>-part-<n>.jsonl'); '_'-prefixed
    names are metadata ('_MANIFEST.json'). A task that dies mid-write
    leaves its staging file behind (no WriterCommitMessage reaches
    commit()/abort()), so readers MUST skip them or a retried job's
    success would silently surface the dead attempt's partial rows —
    the same convention Hadoop's FileInputFormat hiddenFileFilter
    enforces for _SUCCESS/_temporary."""
    return (name.endswith(".jsonl")
            and not name.startswith(".")
            and not name.startswith("_"))


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _parse_jsonl_arrow(path: str, day: str | None,
                       type_filter: set[str] | None):
    """One file → Arrow RecordBatches (round 12, guide §4.2).

    The original parse was a per-line json.loads yielding pickled
    tuples — the row-at-a-time Python boundary the guide warns about,
    paid on every row of every log file. pyarrow's native ND-JSON
    reader parses the whole file in C++ and the batches cross to the
    JVM as Arrow (the DataSource read() contract accepts RecordBatch
    yields). Semantics preserved and covered by test_sources.py:
    explicit_schema nulls missing keys (json.loads .get()),
    unexpected_field_behavior='ignore' drops extra keys, blank lines
    are skipped, integral `value` literals land as double via the
    schema, malformed lines still raise. The absorbed event_type
    pushdown becomes one vectorized is_in kernel instead of a per-row
    set probe.

    Memory note (round-12 advice): this parses the WHOLE file into an
    Arrow table before yielding batches — per-task memory is O(file
    size), vs the old line-iterator's O(1). Rotated log files are
    bounded by the writer (one file per producing task), so the
    assumption holds for this source's own output; a deployment
    ingesting unbounded foreign log files should split by byte range
    in partitions() or switch to pyarrow's streaming open_json."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj

    if not os.path.getsize(path):
        return
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.string()),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64())])
    tbl = pj.read_json(path, parse_options=pj.ParseOptions(
        explicit_schema=schema, unexpected_field_behavior="ignore"))
    if type_filter is not None:
        tbl = tbl.filter(pc.is_in(
            tbl["event_type"],
            value_set=pa.array(sorted(type_filter), pa.string())))
    tbl = tbl.append_column("day", pa.array([day] * len(tbl), pa.string()))
    yield from tbl.to_batches()


class JsonlEventsReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_events: option 'path' is required")
        self.schema = schema
        self.type_filter: set[str] | None = None
        self.day_filter: set[str] | None = None

    # -- pushdown ----------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Absorb event_type equality/IN filters (row-level, applied
        while parsing) and day equality/IN filters (file-level: whole
        files are pruned in partitions()). Everything else is
        returned for Spark to evaluate post-scan."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("event_type",):
                self.type_filter = {f.value}
            elif isinstance(f, In) and f.attribute == ("event_type",):
                self.type_filter = set(f.value)
            elif isinstance(f, EqualTo) and f.attribute == ("day",):
                self.day_filter = {f.value}
            elif isinstance(f, In) and f.attribute == ("day",):
                self.day_filter = set(f.value)
            else:
                yield f

    # -- partition planning -----------------------------------------
    def partitions(self) -> list[_FilePartition]:
        files = sorted(
            os.path.join(self.path, n) for n in os.listdir(self.path)
            if _is_data_file(n))
        if self.day_filter is not None:
            files = [
                p for p in files
                if (m := _FILE_DAY_RE.search(p))
                and m.group(1) in self.day_filter
            ]
        # One partition per file: the planning unit a real source
        # would further split by byte range. Empty dir -> one empty
        # partition (Spark requires >= 1).
        return [_FilePartition(p) for p in files] or [_FilePartition("")]

    # -- execution ---------------------------------------------------
    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        m = _FILE_DAY_RE.search(partition.path)
        day = m.group(1) if m else None
        yield from _parse_jsonl_arrow(partition.path, day,
                                      self.type_filter)


class JsonlEventsDataSource(DataSource):
    """`spark.read.format("jsonl_events").option("path", dir).load()`"""

    @classmethod
    def name(cls) -> str:
        return "jsonl_events"

    def schema(self) -> str:
        return JSONL_EVENTS_SCHEMA + ", day string"

    def reader(self, schema: StructType) -> JsonlEventsReader:
        return JsonlEventsReader(self.options, schema)

    def streamReader(self, schema: StructType):
        return JsonlEventsStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return JsonlEventsWriter(self.options, overwrite)


def register_jsonl_events(spark) -> None:
    """Idempotent registration of the source with a session.

    Python-source filter pushdown ships behind a conf flag (off by
    default in Spark 4.1); a reader that implements pushFilters()
    hard-errors without it, so registration turns it on (runtime-
    settable SQL conf).

    Pickle-by-value registration (round 10): the STREAMING data
    source is deserialized inside python_streaming_source_runner —
    a driver-side Python process the JVM spawns whose sys.path does
    NOT include the harness cwd or addPyFile zips (unlike executor
    workers), so a by-reference cloudpickle of these classes raises
    ModuleNotFoundError whenever the harness runs outside the repo
    root (caught by the round-10 full-catalog TZ drive from /tmp).
    Registering this module for pickle-by-value makes the payload
    self-contained — nothing in the class bodies references the
    package, so the closure stays small. NB: it must be pyspark's
    VENDORED cloudpickle (pyspark.cloudpickle) — registering with
    the standalone cloudpickle package is a silent no-op because
    CloudPickleSerializer never consults it (a 72-byte by-reference
    payload instead of the ~21 KB by-value one)."""
    from pyspark import cloudpickle

    import simpleetlpipeline_spark.sources as _self

    cloudpickle.register_pickle_by_value(_self)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(JsonlEventsDataSource)


class JsonlEventsStreamReader(DataSourceStreamReader):
    """Streaming form of the JSONL log source, on the FULL
    partition-planned stream-reader API: every NEW log file in the
    directory becomes ONE input partition of the next micro-batch,
    so a batch of k rotated files parses in k parallel python
    workers — the same per-file parallelism unit as the batch
    reader. (An earlier cut used SimpleDataSourceStreamReader, whose
    single-worker feed is fine for correctness but serializes the
    parse; the partition-planned form is the production shape.)

    Offset = the sorted list of fully-consumed file names.
    partitions(start, end) plans the file-name difference; read()
    parses one file. Replay for recovery is byte-identical because
    rotated log files never mutate — exactly the determinism the
    offset contract needs. At real scale the offset would be a
    compacted high-watermark over date-partitioned paths rather
    than an explicit list.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_events: option 'path' is required")

    def initialOffset(self) -> dict:
        return {"done": []}

    def _files(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.path) if _is_data_file(n))

    def latestOffset(self) -> dict:
        return {"done": self._files()}

    def partitions(self, start: dict, end: dict):
        done = set(start.get("done", []))
        return [_FilePartition(os.path.join(self.path, n))
                for n in end.get("done", []) if n not in done]

    def read(self, partition) -> Iterator:
        name = os.path.basename(partition.path)
        m = _FILE_DAY_RE.search(name)
        day = m.group(1) if m else None
        yield from _parse_jsonl_arrow(partition.path, day, None)

    def commit(self, end: dict) -> None:
        pass  # files are never deleted by the reader


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    rows: int


class JsonlEventsWriter(DataSourceWriter):
    """Write side of the source, with the two-phase commit every
    distributed file sink needs: each task streams its partition
    into a STAGED file (invisible `.staging-*` name) and reports it
    in its commit message; only the driver-side commit() renames the
    staged files into place and writes a `_MANIFEST.json` listing
    them — so readers never observe a half-written batch and a
    failed/speculative task's output is just an orphan staging file
    that abort() removes. The same protocol parquet's
    FileOutputCommitter runs, in miniature and inspectable."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_events: option 'path' is required")
        self.overwrite = overwrite

    def write(self, iterator) -> _StagedFile:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(
            self.path,
            f".staging-{ctx.taskAttemptId()}-part-{ctx.partitionId()}.jsonl")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                rec = {k: row[k] for k in
                       ("event_id", "ts", "user_id", "event_type", "value")
                       if k in row.__fields__}
                fh.write(json.dumps(rec, default=str) + "\n")
                n += 1
        return _StagedFile(staged=staged, rows=n)

    def commit(self, messages) -> None:
        if self.overwrite:
            for name in os.listdir(self.path):
                if name.endswith(".jsonl") and not name.startswith("."):
                    os.remove(os.path.join(self.path, name))
        final, total = [], 0
        for i, m in enumerate(messages):
            name = f"events-commit-{i:05d}.jsonl"
            os.replace(m.staged, os.path.join(self.path, name))
            final.append(name)
            total += m.rows
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump({"files": final, "rows": total}, fh)
        # Sweep staging files orphaned by failed/speculative attempts
        # that never produced a commit message (abort() only sees
        # messages from COMPLETED tasks, so a task killed mid-write is
        # invisible to it). Safe here: at commit() every surviving
        # task's output has already been os.replace()d to its final
        # name above, so any remaining '.staging-*' is dead.
        for name in os.listdir(self.path):
            if name.startswith(".staging-"):
                os.remove(os.path.join(self.path, name))

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)


def _jsonl_fixture_dir(spark, sf_dir: str) -> str:
    """Deterministic JSONL log directory derived from the events
    table: every 5th event (event_id % 5 == 0), written through the
    REAL JsonlEventsWriter (two-phase commit, manifest). Cached via
    io.build_cached_fixture_dir (source-fingerprint key, staged
    build, sibling completeness marker — one implementation shared
    with the media ingest fixture)."""
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import build_cached_fixture_dir, read_table
    from simpleetlpipeline_spark.operators.dates import iso_second_label

    def _build(tmp: str) -> None:
        subset = (
            read_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 5 == 0)
            .select("event_id",
                    iso_second_label("ts").alias("ts"),
                    "user_id", "event_type", "value"))
        register_jsonl_events(spark)
        # 8 writer tasks -> 8 committed log files: the per-file partition
        # planning both readers rely on for parallelism is actually
        # exercised (a single-file fixture parses serially).
        subset.repartition(8).write.format("jsonl_events") \
            .option("path", tmp).mode("append").save()

    return build_cached_fixture_dir(
        "jsonl_ingest", os.path.join(sf_dir, "events.parquet"), _build)


INGEST_EVENT_TYPES = ("view", "purchase")


def jsonl_ingest_rollup(spark, sf_dir: str):
    """End-to-end exercise of the custom Python DataSource under the
    correctness gate: events subset -> JsonlEventsWriter (two-phase
    commit) -> JsonlEventsReader with a PUSHED event_type filter
    (evaluated inside the source, dropped rows never reach the JVM)
    -> per-type rollup.

    Oracle-checkable despite the filesystem + JSON hop: the fixture
    is a pure function of the events table, doubles survive the JSON
    round-trip exactly (shortest-repr serialization), and the value
    sum is quantized to int64 micro-units per row BEFORE aggregation
    so the hashed sum is fold-order-exact in both engines.

    Scale shape: one input partition per log file (the source's
    parallelism unit), filter pushdown inside the source, and a
    map-side-combined hash aggregate — the plan a 100 TB log-ingest
    job needs from a non-parquet feed.
    """
    from pyspark.sql import functions as F

    root = _jsonl_fixture_dir(spark, sf_dir)
    register_jsonl_events(spark)
    logs = (
        spark.read.format("jsonl_events").option("path", root).load()
        .filter(F.col("event_type").isin(*INGEST_EVENT_TYPES)))
    return (
        logs.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.count_distinct("user_id").alias("n_users"),
             F.sum(F.floor(F.col("value") * 1e6).cast("long"))
             .alias("value_sum6"))
    )


QUERIES = {"jsonl_ingest_rollup": jsonl_ingest_rollup}

ORACLE_SQL = {
    "jsonl_ingest_rollup": f"""
        SELECT event_type,
               count(*) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
                   AS value_sum6
        FROM events
        WHERE event_id % 5 = 0
          AND event_type IN {INGEST_EVENT_TYPES!r}
        GROUP BY 1
    """,
}


def streaming_jsonl_rollup(spark, sf_dir: str):
    """The SAME custom source, driven through Structured Streaming:
    JsonlEventsStreamReader turns each committed log file into
    micro-batch input (availableNow replay-to-catch-up), and the
    rollup runs as a stateful streaming aggregate in complete mode.
    Result contract matches the batch jsonl_ingest_rollup minus the
    distinct-user count (distinct aggregation is unsupported in
    streaming — the production swap-in is approx_count_distinct,
    which the sketches family covers).

    Scale shape: state is |event_type| keys, partial aggregation
    folds map-side within each micro-batch, and the source's
    file-granular offsets mean a restart resumes from the last
    committed file — the property tests/test_sources.py pins.
    The reader is the full partition-planned DataSourceStreamReader
    (per-file splits via partitions(), like the batch reader — an
    earlier cut used the single-worker Simple API; commit ae1b738
    upgraded it), so micro-batch parsing parallelizes across the
    batch's files.
    """
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.streaming.windows import run_stream_to_df

    root = _jsonl_fixture_dir(spark, sf_dir)
    register_jsonl_events(spark)
    logs = (spark.readStream.format("jsonl_events")
            .option("path", root).load())
    agg = (
        logs.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.floor(F.col("value") * 1e6).cast("long"))
             .alias("value_sum6"))
    )
    return run_stream_to_df(agg)


QUERIES["streaming_jsonl_rollup"] = streaming_jsonl_rollup

ORACLE_SQL["streaming_jsonl_rollup"] = """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
               AS value_sum6
    FROM events
    WHERE event_id % 5 = 0
    GROUP BY 1
"""
