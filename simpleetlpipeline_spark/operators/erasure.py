"""Right-to-be-forgotten erasure over the versioned warehouse.

GDPR/CCPA deletion is a first-class operation for any engine holding
user data: remove every row for a subject, atomically, with an audit
trail, while readers keep seeing complete snapshots. The reference
has no deletion story at all (its SQLite tables are mutated in
place); the Spark-idiomatic form is a NEW immutable snapshot minus
the subject, published by the same version-directory + pointer-swap
commit the warehouse sink uses (io.write_table_version) — deletes
are writes, never in-place mutation, exactly how Delta/Iceberg
DELETE works.

Scale story: the erase itself is one broadcast anti-join on the
subject key inside a full-snapshot rewrite — a narrow scan->filter->
write pass with no shuffle (at petabyte scale you'd partition the
table by a key-stable column and rewrite only affected partitions;
the commit protocol is unchanged). The audit counts are one-row
aggregates (sanctioned driver collects).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from simpleetlpipeline_spark.io import (
    read_table,
    read_table_version,
    scratch_rows_df,
    write_table_version,
)

AUDIT_SCHEMA = StructType([
    StructField("table_name", StringType()),
    StructField("target_user_id", LongType()),
    StructField("rows_before", LongType()),
    StructField("rows_removed", LongType()),
    StructField("rows_after", LongType()),
    StructField("version_before", IntegerType()),
    StructField("version_after", IntegerType()),
])


def erase_user(spark: SparkSession, table_root: str, user_col: str,
               target: DataFrame, schema=None) -> str:
    """Publish a new snapshot of the CURRENT table version with every
    row of the one-row `target` keyset removed (broadcast anti-join),
    stamping the erasure into the version's commit metadata. Returns
    the committed version directory."""
    current = read_table_version(spark, table_root, schema=schema)
    kept = current.join(F.broadcast(target), user_col, "left_anti")
    return write_table_version(
        kept, table_root, keep_versions=2,
        commit_meta={"op": "user_erasure", "key_col": user_col})


def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end erasure drill, returning the audit row: snapshot
    the events table into a throwaway versioned warehouse (v1),
    erase the most-active user (ties -> min user_id), commit v2, and
    report counts READ BACK FROM THE WAREHOUSE (the audit must
    reflect what readers actually see, not what the input implied).
    The throwaway root is removed after the counts materialize, so
    the returned frame is a local literal row (io.scratch_rows_df).

    Executes at construction by design (same exemption class as
    etl_pipeline_run in the no-collect plan contract)."""
    events = read_table(spark, sf_dir, "events")
    target = (events.groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n"))
              .orderBy(F.desc("n"), F.asc("user_id")).limit(1)
              .select("user_id"))

    def build(root: str) -> list[tuple]:
        table_root = os.path.join(root, "events")
        write_table_version(events, table_root)
        schema = events.schema
        rows_before = read_table_version(
            spark, table_root, schema=schema).count()
        target_id = target.first()["user_id"]
        erase_user(spark, table_root, "user_id", target, schema=schema)
        rows_after = read_table_version(
            spark, table_root, schema=schema).count()
        return [("events", int(target_id), rows_before,
                 rows_before - rows_after, rows_after, 1, 2)]

    return scratch_rows_df(spark, "spark_graft_erasure_", build,
                           AUDIT_SCHEMA)


QUERIES = {"user_erasure_audit": user_erasure_audit}

ORACLE_SQL = {
    "user_erasure_audit": """
    WITH target AS (
        SELECT user_id FROM events GROUP BY 1
        ORDER BY count(*) DESC, user_id ASC LIMIT 1
    )
    SELECT 'events' AS table_name,
           (SELECT user_id FROM target) AS target_user_id,
           CAST(count(*) AS BIGINT) AS rows_before,
           CAST(sum(CASE WHEN user_id = (SELECT user_id FROM target)
                         THEN 1 ELSE 0 END) AS BIGINT) AS rows_removed,
           CAST(count(*) - sum(CASE WHEN user_id =
                                    (SELECT user_id FROM target)
                                    THEN 1 ELSE 0 END) AS BIGINT)
               AS rows_after,
           CAST(1 AS INTEGER) AS version_before,
           CAST(2 AS INTEGER) AS version_after
    FROM events
""",
}
