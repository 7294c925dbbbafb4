"""Streaming tests: finite replay through the real streaming engine
(file source -> watermarked stateful agg -> memory sink) must agree
with the batch DataFrame path on the same data."""

from __future__ import annotations

from pyspark.sql import functions as F

from simpleetlpipeline_spark.plans.analytics import QUERIES as BATCH
from simpleetlpipeline_spark.streaming import windows as W


def test_streaming_hourly_equals_batch(spark, sf_dir):
    got = {
        (r["window_start_us"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in W.streaming_events_hourly(spark, sf_dir).collect()
    }
    want = {
        (r["window_start_us"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in BATCH["events_hourly"](spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_sliding_double_counts(spark, sf_dir):
    """Each event lands in exactly two 1h/30min sliding windows."""
    from simpleetlpipeline_spark.io import read_table
    n_events = read_table(spark, sf_dir, "events").count()
    total = (
        W.streaming_events_sliding(spark, sf_dir)
        .agg(F.sum("n_events").alias("s")).first()["s"]
    )
    assert total == 2 * n_events


def test_streaming_sessions_invariants(spark, sf_dir):
    rows = W.streaming_user_sessions(spark, sf_dir).collect()
    assert rows
    assert all(r["session_start_us"] < r["session_end_us"] for r in rows)
    assert all(r["n_events"] >= 1 for r in rows)


def test_watermark_drops_late_data_across_microbatches(spark, tmp_path):
    """True late-data semantics need >1 micro-batch: batch 1 advances
    the watermark past an old window; a straggler for that window
    arriving later must be DROPPED from the (append-mode) stream
    result, while the batch aggregate over the same files would count
    it. maxFilesPerTrigger=1 forces one file per micro-batch; the
    watermark a batch runs under is derived from the event-time max
    as of the PREVIOUS batch's commit, so the straggler goes in the
    third file (batch 0 advances event time, batch 1 commits the
    11:00 watermark, batch 2 enforces it)."""
    import datetime as dt
    import os as _os
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "stream_src"
    d.mkdir()
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

    def write(name, rows):
        tbl = pa.table({
            "ts": pa.array([r[0] for r in rows],
                           type=pa.timestamp("us")),
            "v": pa.array([r[1] for r in rows], type=pa.float64()),
        })
        pq.write_table(tbl, str(d / name))

    # batch 0: two 09:xx events + a 12:00 event -> watermark := 11:00
    write("a.parquet", [(t(9, 10), 1.0), (t(9, 20), 1.0), (t(12), 1.0)])
    time.sleep(1.1)
    write("b.parquet", [(t(12, 30), 1.0)])  # batch 1: wm 11:00 commits
    time.sleep(1.1)
    write("c.parquet", [(t(9, 30), 1.0),    # late: window end 10:00 < wm
                        (t(13), 1.0)])
    _os.utime(d / "c.parquet")  # strictly newest mtime -> last batch

    sdf = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["ws"]: r["n"] for r in spark.table(name).collect()}

    # the 09:00 window was finalized with ONLY batch-1 events
    assert got[t(9)] == 2, f"late row must be dropped, got {got}"
    # batch semantics over the same files count the straggler
    batch = (
        spark.read.schema("ts timestamp, v double").parquet(str(d))
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("window.start") == t(9)).first()["n"])
    assert batch == 3


def test_runner_keeps_nodata_batch_for_append_aggregates(spark, tmp_path):
    """run_stream_to_df disables the trailing no-data micro-batch as
    a replay optimization; for an APPEND-mode watermarked aggregate
    that batch is load-bearing (windows older than the final
    watermark emit only when it advances), so the round-13 guard must
    keep it enabled there — a future append-mode consumer routed
    through the runner must not silently lose its last windows."""
    import datetime as dt
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "append_src"
    d.mkdir()
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    tbl = pa.table({
        "ts": pa.array([t(9, 10), t(9, 20), t(12)],
                       type=pa.timestamp("us")),
        "v": pa.array([1.0, 1.0, 1.0], type=pa.float64()),
    })
    pq.write_table(tbl, str(d / f"a_{_uuid.uuid4().hex[:6]}.parquet"))

    sdf = (spark.readStream.schema("ts timestamp, v double")
           .parquet(str(d)))
    agg = (sdf.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour"))
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("window.start").alias("ws"), "n"))
    assert W._needs_nodata_batch(agg, "append")
    assert not W._needs_nodata_batch(agg, "complete")
    got = {r["ws"]: r["n"]
           for r in W.run_stream_to_df(agg, output_mode="append").collect()}
    # the single data batch ends with watermark 11:00: the 09:00
    # window emits ONLY via the trailing no-data batch
    assert got.get(t(9)) == 2, f"final window lost: {got}"


def test_runner_ignores_higher_order_aggregate(spark, tmp_path):
    """The guard reads the plan's nodes, not its text: an append-mode
    stream whose only "aggregate" is the higher-order F.aggregate over
    an array column has no state to finalize, so the no-data batch
    stays off."""
    sdf = (spark.readStream.schema("ts timestamp, v double")
           .parquet(str(tmp_path)))
    summed = sdf.withWatermark("ts", "1 hour").select(
        "ts", F.aggregate(F.array("v", "v"), F.lit(0.0),
                          lambda acc, x: acc + x).alias("s"))
    assert not W._needs_nodata_batch(summed, "append")


def test_totals_sink_restart_resume_idempotent(spark, tmp_path):
    """The foreachBatch sink's crash-retry window: batch N's snapshot
    commit lands (pointer swap + _META batch stamp) but the streaming
    checkpoint commit is lost before it is written. On restart Spark
    replays batch N with identical contents (same checkpoint => same
    batch plan); the batch-id guard must SKIP the re-apply, leaving
    the snapshot equal to the single-run result instead of
    double-adding the increments."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from simpleetlpipeline_spark.io import read_version_meta
    from simpleetlpipeline_spark.streaming.sinks import (
        streaming_totals_to_table,
    )

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    rows = [(i, datetime(2026, 1, 1, 0, 0, i % 60), i % 3, "view",
             float(i), "{}") for i in range(30)]
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }),
        os.path.join(sf_dir, "events.parquet"))

    root = str(tmp_path / "table")
    once = sorted(map(tuple,
                      streaming_totals_to_table(spark, sf_dir, root)
                      .collect()))
    meta_before = read_version_meta(root)

    # simulate the crash: sink commit kept, checkpoint commit lost
    # (drop the Hadoop local-FS .crc sidecar too, or the replay's
    # atomic rename trips over the stale checksum)
    commits = os.path.join(root, "_chk", "commits")
    committed = sorted(n for n in os.listdir(commits)
                       if not n.startswith("."))
    assert committed, "expected at least one committed batch"
    os.remove(os.path.join(commits, committed[-1]))
    crc = os.path.join(commits, f".{committed[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    again = sorted(map(tuple,
                       streaming_totals_to_table(spark, sf_dir, root)
                       .collect()))
    assert again == once, "replayed batch must not double-apply"
    assert read_version_meta(root) == meta_before, \
        "skipped replay must not commit a new version"

    # clean restart-from-scratch against a FRESH root matches too
    fresh = str(tmp_path / "table2")
    clean = sorted(map(tuple,
                       streaming_totals_to_table(spark, sf_dir, fresh)
                       .collect()))
    assert clean == once
    shutil.rmtree(root, ignore_errors=True)


def test_left_outer_interval_join_emits_on_watermark_expiry(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: an unmatched purchase
    must emit exactly once WITH A NULL view side — but only after the
    watermark passes its join window (state expiry); a purchase still
    inside the watermark at end-of-replay must NOT emit. One file per
    micro-batch so later batches advance the watermark over earlier
    purchases."""
    import datetime as dt
    import os as _os
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simpleetlpipeline_spark.streaming.windows import (
        purchase_view_join_stream,
    )

    d = tmp_path / "lj_src"
    d.mkdir()
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

    def write(name, rows):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
        })
        pq.write_table(tbl, str(d / name))

    # batch 0: u1 purchase with NO view (outer candidate), u2
    # purchase WITH a view in-window (inner match)
    write("a.parquet", [
        (1, t(9), 101, "purchase"),
        (2, t(9), 102, "view"),
        (3, t(9, 30), 102, "purchase"),
    ])
    time.sleep(1.1)
    # batch 1: advances max event time to 13:00 -> wm 12:00 commits
    write("b.parquet", [(4, t(13), 103, "view")])
    time.sleep(1.1)
    # batch 2: runs UNDER wm 12:00 (expires the 09:00 state) and
    # carries a tail purchase the watermark never passes
    write("c.parquet", [(5, t(15), 104, "purchase")])
    _os.utime(d / "c.parquet")

    events = (
        spark.readStream
        .schema("event_id long, ts timestamp, user_id long, "
                "event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    joined = purchase_view_join_stream(events, how="left_outer")
    name = f"loj_{uuid.uuid4().hex[:8]}"
    q = (joined.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {(r["purchase_event_id"], r["view_event_id"])
            for r in spark.table(name).collect()}

    assert (3, 2) in rows, "in-window pair must match (inner semantics)"
    assert (1, None) in rows, \
        "unmatched purchase must emit null-padded after watermark expiry"
    assert (5, None) not in rows and not any(p == 5 for p, _ in rows), \
        "tail purchase inside the watermark must not emit"
    assert len(rows) == 2


def test_streaming_hll_sketch_state_accuracy_and_merge(spark, tmp_path):
    """The streaming HLL state table, both paths:

    (1) multi-batch MERGE — drive the foreachBatch body directly
        with three overlapping user slices; the union-merged sketch
        must estimate the true distinct count within 3*rsd (plus
        agree with a single-pass sketch within the same bound — the
        hll_shard_merge mergeability contract in streaming form),
        and a replayed batch id must be skipped (idempotence stamp);
    (2) end-to-end — the finite single-file replay through the real
        foreachBatch sink lands the committed state table and its
        per-type estimates are exact at tiny cardinality.
    """
    import math
    import os

    from simpleetlpipeline_spark.io import read_table_version
    from simpleetlpipeline_spark.streaming.sinks import (
        hll_merge_batch_fn,
        streaming_distinct_users_hll,
    )

    root = str(tmp_path / "hll_state")
    os.makedirs(root)
    merge = hll_merge_batch_fn(spark, root)
    n_users = 6000
    slices = [(0, 2500), (2000, 4500), (4000, n_users)]  # overlaps
    for bid, (lo, hi) in enumerate(slices):
        batch = spark.range(lo, hi).selectExpr(
            "'view' AS event_type", "id AS user_id")
        merge(batch, bid)
    # idempotence: replaying the last batch must not change the state
    before = read_table_version(spark, root).select(
        F.hll_sketch_estimate("sk").cast("long")).first()[0]
    merge(spark.range(4000, n_users).selectExpr(
        "'view' AS event_type", "id AS user_id"), len(slices) - 1)
    after = read_table_version(spark, root).select(
        F.hll_sketch_estimate("sk").cast("long")).first()[0]
    assert after == before

    rsd = 1.04 / math.sqrt(2 ** 14)
    assert abs(after - n_users) <= 3 * rsd * n_users + 1
    single = (spark.range(0, n_users)
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("id", F.lit(14))).cast("long"))
              .first()[0])
    assert abs(after - single) <= 3 * rsd * n_users + 1

    # end-to-end through the real sink on the committed testdata
    got = {r["event_type"]: r["approx_users"] for r in
           streaming_distinct_users_hll(
               spark, "/root/testdata/sf0.001").collect()}
    assert got and all(v > 0 for v in got.values())
    exact = {r["event_type"]: r["n"] for r in
             spark.read.parquet(
                 "/root/testdata/sf0.001/events.parquet")
             .groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    for et, est in got.items():
        assert abs(est - exact[et]) <= 3 * rsd * exact[et] + 1
