"""Streaming sinks: landing a stream into the engine's warehouse.

The memory-sink queries in windows.py/stateful.py prove operator
semantics; this module proves the SINK path a deployment actually
uses — foreachBatch into the versioned parquet table protocol
(io.write_table_version), i.e. exactly how a Structured Streaming
job feeds a warehouse table that batch queries then read:

- Each micro-batch's rows are aggregated to per-key increments
  (map-side combined, tiny output).
- foreachBatch merges the increments into the current table snapshot
  (full-outer on the key, sums added) and commits a NEW version via
  the atomic _CURRENT pointer swap — readers never see a half-merged
  table, and a failed batch leaves the previous version intact.
- foreachBatch delivery is at-least-once, so the applied batch id is
  stamped into each snapshot commit (_META.json, atomic with the
  pointer swap): a retried batch whose commit already landed is
  skipped, never double-applied.

Scale: the merge shuffles |keys| + |batch keys| rows, not the
stream; the versioned rewrite is the honest cost of format-free
parquet (Delta/Iceberg MERGE would prune untouched files).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simpleetlpipeline_spark.functions.sketches import HLL_LGK
from simpleetlpipeline_spark.io import (
    read_table_version,
    read_version_meta,
    scratch_rows_df,
    write_table_version,
)
from simpleetlpipeline_spark.streaming.windows import read_events_stream


def _run_sink(stream: DataFrame, table_root: str | None, prefix: str,
              merge_batch_fn, result) -> DataFrame:
    """Run `stream` to completion, foreachBatch-committing through
    `merge_batch_fn(spark, root)`, and return `result` of the
    final committed snapshot. A caller-supplied table_root keeps the
    table and gets the live frame; otherwise the table lives in a
    scratch dir and the (tiny) result re-enters through
    io.scratch_rows_df, which removes the dir even when the stream
    fails."""
    spark = stream.sparkSession

    def build(root: str) -> DataFrame:
        q = (
            stream.writeStream.foreachBatch(merge_batch_fn(spark, root))
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(root, "_chk"))
            .start()
        )
        q.awaitTermination()
        return result(read_table_version(spark, root))

    if table_root is not None:
        return build(table_root)
    return scratch_rows_df(spark, prefix, build)


def _totals_merge_batch_fn(spark: SparkSession, table_root: str):
    """foreachBatch body of streaming_totals_to_table: merges a
    batch's per-user increments into the versioned table."""
    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotence under foreachBatch's at-least-once retries: the
        # applied batch id is stamped INSIDE each snapshot commit
        # (write_table_version commit_meta), so a retry of a batch
        # whose commit already landed — crash between the pointer swap
        # and the streaming checkpoint — is detected and skipped
        # instead of double-adding the increments.
        #
        # Scope of the guard: it assumes the CHECKPOINTED batch plan —
        # batch N retried is the same batch N (Structured Streaming's
        # contract when the checkpoint directory is kept). Starting
        # over with a FRESH checkpoint against an existing table_root
        # renumbers batches from 0 with possibly different contents;
        # the stamp cannot distinguish that and would skip/misapply.
        # Restart-from-scratch therefore requires a fresh table_root
        # (the default scratch path does this), matching the
        # checkpoint-and-sink-move-together rule of every
        # transactional foreachBatch sink.
        meta = read_version_meta(table_root)
        if meta is not None and meta.get("batch_id", -1) >= batch_id:
            return
        inc = (
            batch_df.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("total_value"))
        )
        if os.path.exists(os.path.join(table_root, "_CURRENT")):
            cur = read_table_version(spark, table_root)
            merged = (
                cur.select("user_id",
                           F.col("n_events").alias("n0"),
                           F.col("total_value").alias("t0"))
                .join(inc, "user_id", "full_outer")
                .select(
                    "user_id",
                    (F.coalesce("n0", F.lit(0))
                     + F.coalesce("n_events", F.lit(0))).alias("n_events"),
                    (F.coalesce("t0", F.lit(0.0))
                     + F.coalesce("total_value", F.lit(0.0)))
                    .alias("total_value"),
                )
            )
        else:
            merged = inc
        write_table_version(merged, table_root,
                            commit_meta={"batch_id": batch_id})
    return merge_batch


def streaming_totals_to_table(spark: SparkSession, sf_dir: str,
                              table_root: str | None = None) -> DataFrame:
    """Run the events stream to completion, foreachBatch-merging
    per-user totals into a versioned warehouse table; returns the
    final committed snapshot (rounded for the oracle — raw double
    partials are what the table stores, so multi-batch replays
    accumulate exactly)."""
    return _run_sink(
        read_events_stream(spark, sf_dir), table_root, "stream_totals_",
        _totals_merge_batch_fn,
        lambda t: t.select("user_id", "n_events",
                           F.round("total_value", 2).alias("total_value")))


def hll_merge_batch_fn(spark: SparkSession, table_root: str):
    """foreachBatch body for the HLL state table, exposed at module
    level so tests can drive the multi-batch MERGE path directly
    (the finite single-file replay only ever produces one batch):
    folds a batch's per-type sketch into the versioned state via
    hll_union, with the applied-batch-id idempotence stamp."""
    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        meta = read_version_meta(table_root)
        if meta is not None and meta.get("batch_id", -1) >= batch_id:
            return
        inc = (batch_df.groupBy("event_type")
               .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LGK))
                    .alias("sk")))
        if os.path.exists(os.path.join(table_root, "_CURRENT")):
            cur = read_table_version(spark, table_root).select(
                "event_type", F.col("sk").alias("sk0"))
            merged = (
                cur.join(inc, "event_type", "full_outer")
                .select(
                    "event_type",
                    F.when(F.col("sk0").isNull(), F.col("sk"))
                    .when(F.col("sk").isNull(), F.col("sk0"))
                    .otherwise(F.hll_union("sk0", "sk")).alias("sk"))
            )
        else:
            merged = inc
        write_table_version(merged, table_root,
                            commit_meta={"batch_id": batch_id})
    return merge_batch


def streaming_distinct_users_hll(spark: SparkSession, sf_dir: str,
                                 table_root: str | None = None) -> DataFrame:
    """Streaming cardinality maintenance: each micro-batch folds its
    per-event-type HLL sketch into a versioned STATE TABLE via
    hll_union (register max-merge — commutative, associative,
    idempotent), so the warehouse always holds a mergeable
    distinct-users sketch per type without ever storing user ids.
    This is the streaming form of hll_shard_merge's contract: at
    100 TB/day the nightly distinct-count query becomes a read of
    |types| sketch binaries instead of a rescan of the stream.

    Same transactional discipline as streaming_totals_to_table:
    foreachBatch commits through write_table_version's atomic
    pointer swap with the applied batch id stamped in the commit,
    so at-least-once retries never double-merge (double-merging an
    HLL is harmless at the register level, but the guard keeps the
    sink contract uniform).

    Rows-only entry: the estimate depends on sketch REPRESENTATION
    (sparse vs dense promotion varies with batch partitioning — the
    documented hll_shard_merge lesson), so a hash-exact SQL oracle
    would flake; the accuracy contract (within 3*rsd of exact) and
    the multi-batch replay live in tests/test_streaming.py."""
    return _run_sink(
        read_events_stream(spark, sf_dir), table_root, "stream_hll_",
        hll_merge_batch_fn,
        lambda t: t.select(
            "event_type",
            F.hll_sketch_estimate("sk").cast("long").alias("approx_users"),
        )).orderBy("event_type")


QUERIES = {
    "streaming_totals_to_table": streaming_totals_to_table,
    "streaming_distinct_users_hll": streaming_distinct_users_hll,  # rows-only
}

ORACLE_SQL = {
    "streaming_totals_to_table": """
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1
    """,
}
