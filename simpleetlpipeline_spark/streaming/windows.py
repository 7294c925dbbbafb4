"""Windowed streaming aggregations over the events table.

Operators:
- streaming_events_hourly:  tumbling 1h window x event_type, with a
  1h watermark. Complete output mode so every window is emitted at
  end-of-stream (append mode would hold back windows newer than the
  final watermark — correct for infinite streams, wrong for a
  finite replay compared against a batch oracle).
- streaming_events_sliding: sliding 1h window every 30min — each
  event lands in two windows.
- streaming_user_sessions:  session_window (30min gap) per user —
  the streaming-native sessionization (batch twin:
  plans/analytics.events_sessionization, lag-based).

Scale notes: streaming state is keyed by (window, event_type) or
(user, session) — both low-cardinality relative to input, partial
aggregation happens map-side, and the watermark bounds state size on
an infinite stream. The file source here replays the testdata
parquet; swapping in Kafka is a source-config change only.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from simpleetlpipeline_spark.schemas import TESTDATA_SCHEMAS


def _events_stream_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Events schema as the streaming parquet source sees it. The ts
    physical type varies by testdata vintage — TIMESTAMP(NANOS)
    (surfaced as epoch-nanos LONG under
    spark.sql.legacy.parquet.nanosAsLong) or a plain micros
    TIMESTAMP — so probe the footer via the batch reader's cached
    probe rather than hardcoding either."""
    from simpleetlpipeline_spark.io import _events_ts_type

    ts_type = _events_ts_type(
        spark, os.path.join(sf_dir, "events.parquet"))
    fields = []
    for f in TESTDATA_SCHEMAS["events"].fields:
        if f.name == "ts":
            fields.append(StructField("ts", ts_type))
        else:
            fields.append(f)
    return StructType(fields)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (finite replay of
    the same files the batch path reads; ts normalized to
    microsecond timestamps identically to io.read_table)."""
    # The file source requires a directory; point it at sf_dir and
    # select only the events file(s) via glob filter.
    raw = (
        spark.readStream.schema(_events_stream_schema(spark, sf_dir))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if raw.schema["ts"].dataType.simpleString() == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


#: State-store partition count for finite replays. A streaming query
#: bakes numShufflePartitions into its checkpoint at start; for the
#: bounded testdata replay 32 state tasks per micro-batch are pure
#: scheduling overhead (measured ~25% of each query's wall time). A
#: production deployment sizes this to sustained throughput instead —
#: it is a per-query decision, which is why it's set here per start
#: rather than session-wide.
REPLAY_STATE_PARTITIONS = 8


#: Scratch root for replay checkpoints: tmpfs when the host has one,
#: else None (Spark's default disk temp dir). A memory-sink
#: availableNow replay's checkpoint is transient BY CONSTRUCTION —
#: the sink itself is in-process RAM, so checkpoint durability buys
#: nothing (any failure means rerun-from-source) — while its offset/
#: commit WAL and per-partition state-store delta files are fsync'd
#: on every micro-batch (measured round 12: walCommit+commitOffsets
#: 0.2-0.6s per replay on this host's ext4 /tmp). A production
#: deployment with a real sink keeps a durable checkpoint; that is a
#: property of the SINK contract, not of this replay harness.
_REPLAY_CKPT_ROOT = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _needs_nodata_batch(sdf: DataFrame, output_mode: str) -> bool:
    """True when the trailing no-data micro-batch is LOAD-BEARING for
    this consumer — i.e. disabling it would change the result, not
    just the cost (round-13 insurance; the round-12 verdict's one
    behavioural caveat on the replay runner).

    The no-data batch's only work is advancing the watermark so
    state can finalize. That final advance changes emitted rows for:
    * append-mode watermarked AGGREGATES / session windows (windows
      newer than the last data batch's watermark emit only when the
      watermark passes them);
    * non-inner stream-stream JOINS (outer/semi/anti rows emit on
      state expiry);
    * (flat)mapGroupsWithState with an EVENT-TIME timeout (timeouts
      fire on watermark advance) — in any output mode.
    Complete/update aggregates, inner joins and dropDuplicates emit
    eagerly per data batch, so the final advance is pure cost there.
    """
    nodes = [(n.getClass().getSimpleName(), n) for n in
             _plan_nodes(sdf._jdf.queryExecution().analyzed())]
    # FlatMapGroupsWithState / FlatMapGroupsInPandasWithState
    if any(k.startswith("FlatMapGroups") and k.endswith("WithState")
           and n.timeout().toString() == "EventTimeTimeout"
           for k, n in nodes):
        return True
    if output_mode != "append":
        return False
    return any(k == "Aggregate"
               or (k == "Join" and n.joinType().sql() not in ("INNER", "CROSS"))
               for k, n in nodes)


def _plan_nodes(plan):
    """Pre-order walk of a JVM logical plan through py4j."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def run_stream_to_df(sdf: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run a finite streaming query to completion into a memory sink
    and return the result table. trigger(availableNow) processes all
    currently-visible files in bounded batches then stops — the
    replay-to-catch-up pattern.

    Round 12 (guide §1.1 measurement: per-batch durationMs): the
    trailing NO-DATA micro-batch is disabled for the replay. Its only
    work is advancing the watermark to evict state — load-bearing on
    an infinite stream, a pure cost on a finite replay whose state
    dies with the query: every memory-sink consumer here (complete-
    mode aggregates, update-mode NoTimeout stateful ops, eager-
    emitting inner joins and dropDuplicates) emits NOTHING in it, yet
    it paid a full state-store maintenance pass + fsync'd WAL commit
    (measured: 1.7-6s addBatch on the join replay). The conf is
    captured by the stream's cloned session at start() and restored
    after, so checkpointed multi-phase streams driven outside this
    runner keep the default."""
    name = f"stream_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    before = spark.conf.get("spark.sql.shuffle.partitions")
    before_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    ckpt = (os.path.join(_REPLAY_CKPT_ROOT,
                         f"spark_graft_replay_{name}")
            if _REPLAY_CKPT_ROOT else None)
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(min(int(before), REPLAY_STATE_PARTITIONS)))
        if not _needs_nodata_batch(sdf, output_mode):
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", "false")
        writer = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if ckpt:
            writer = writer.option("checkpointLocation", ckpt)
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                       before_nodata)
        if ckpt:
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup as a stream: watermarked stateful agg.

    Same result contract as the batch events_hourly; the 1h watermark
    is the late-data bound a production deployment would carry.
    """
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            # raw epoch micros, not TIMESTAMP: pyspark collect()
            # renders TIMESTAMP via the process-local timezone (the
            # class banned by tests/test_oracle_types.py)
            F.unix_micros(F.col("window.start"))
            .alias("window_start_us"),
            "event_type", "n_events", "total_value",
        )
    )
    return run_stream_to_df(agg)


def streaming_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (1h window, 30min slide): every event
    contributes to exactly two windows."""
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.unix_micros(F.col("window.start"))
                .alias("window_start_us"),
                "n_events", "total_value")
    )
    return run_stream_to_df(agg)


def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window sessionization: 30min inactivity gap per user,
    merged incrementally by the streaming state store (the operator
    the batch lag()-based sessionization hand-rolls)."""
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_micros(F.col("session_window.start"))
            .alias("session_start_us"),
            F.unix_micros(F.col("session_window.end"))
            .alias("session_end_us"),
            "user_id", "n_events", "total_value",
        )
    )
    return run_stream_to_df(agg)


def streaming_enrich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events enriched with the
    static customer dimension, rolled up per market segment.

    The static side is re-read per micro-batch and broadcast — a
    stream-static equi-join is STATELESS (no watermark bookkeeping,
    unlike stream-stream joins), which is exactly why dimension
    enrichment belongs on this path at scale: state stays bounded to
    the windowed aggregate downstream, and the dim refreshes for free
    whenever its table is republished between batches.
    """
    from simpleetlpipeline_spark.io import read_table

    events = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    agg = (
        events.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )
    return run_stream_to_df(agg)


def streaming_purchase_view_join(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: each purchase matched
    with the same user's views from the preceding hour.

    The stateful-join design the batch as-of/conversion queries only
    simulate: both sides carry watermarks and the join condition
    bounds both event times, so the state store can expire rows older
    than (watermark - interval) on each side — bounded state on an
    infinite stream. Append output: a match emits exactly once, when
    the watermark passes its join window.
    """
    joined = purchase_view_join_stream(read_events_stream(spark, sf_dir))
    return run_stream_to_df(joined, output_mode="append")


def purchase_view_join_stream(events: DataFrame,
                              how: str = "inner") -> DataFrame:
    """The watermarked interval join over any events stream, factored
    so tests can drive the LEFT OUTER variant: with how='left_outer'
    an unmatched purchase emits once with a NULL view_event_id — but
    only when the watermark passes its join window (state expiry),
    which needs a multi-batch replay where later batches advance the
    watermark. A single-file availableNow replay never advances the
    watermark past its own tail, so the outer variant is exercised by
    the checkpointed multi-phase test (test_streaming), not a catalog
    entry whose outer-row count would hinge on file-split accidents."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_event_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_event_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    return purchases.join(
        views,
        F.expr("p_user = v_user AND v_ts <= p_ts "
               "AND v_ts >= p_ts - INTERVAL 1 HOUR"),
        how,
    ).select("purchase_event_id", "view_event_id")


QUERIES = {
    "streaming_events_hourly": streaming_events_hourly,
    "streaming_events_sliding": streaming_events_sliding,
    "streaming_user_sessions": streaming_user_sessions,
    "streaming_enrich_customers": streaming_enrich_customers,
    "streaming_purchase_view_join": streaming_purchase_view_join,
}

# Batch twins for the finite replay. The streaming session_window
# closes a session 30min after the last event; DuckDB expresses the
# same via gap-based grouping (lag + cumulative sum), with
# session_end = last_ts + gap.
ORACLE_SQL = {
    "streaming_purchase_view_join": """
        SELECT p.event_id AS purchase_event_id,
               v.event_id AS view_event_id
        FROM events p JOIN events v
          ON v.user_id = p.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
    "streaming_enrich_customers": """
        SELECT c.c_mktsegment,
               count(*) AS n_events,
               round(sum(e.value), 2) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
    "streaming_events_hourly": """
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "streaming_events_sliding": """
        WITH buckets AS (
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS tb, value
            FROM events
        ), contrib AS (
            SELECT tb AS window_start, value FROM buckets
            UNION ALL
            SELECT tb - INTERVAL 30 MINUTE AS window_start, value FROM buckets
        )
        SELECT epoch_us(window_start) AS window_start_us,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM contrib
        GROUP BY 1
    """,
    "streaming_user_sessions": """
        WITH ordered AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), grouped AS (
            SELECT user_id, ts, value,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM ordered
        )
        SELECT epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts) + INTERVAL 30 MINUTE)
                   AS session_end_us,
               user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM grouped
        GROUP BY user_id, sid
    """,
}
