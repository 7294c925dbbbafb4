"""Relational depth: semi-joins, conditional aggregation, basket
pairs, argmax-per-group, and semi-structured (JSON) extraction.

The reference's relational surface stops at inner equi-joins and
plain GROUP BY (SURVEY.md §2.4-2.5); these queries add the join and
aggregate shapes its SQLite engine would have planned for free and
any migrating analytics user will reach for on day one. All are
DuckDB-oracle-checked.

Scale notes (the 100 TB framing for each):
- promo_revenue_monthly: lineitem⋈part is fact⋈dim — part broadcasts
  (it is orders-of-magnitude smaller than lineitem at every TPC-H
  SF), the conditional sums fold map-side, and the final agg is
  |months| groups. One shuffle.
- late_ship_orders: EXISTS plans as a LEFT SEMI join on the orderkey
  equi-condition with the lateness predicate attached — the probe
  side short-circuits on first match, no row explosion, and the count
  agg is |priorities| groups. The date predicate cannot push below
  the join (it spans both sides) but column pruning keeps the
  shuffled payload to three columns.
- large_volume_orders: aggregate lineitem FIRST (map-side partial
  sums shrink the shuffle to |orderkeys|), filter the tiny survivor
  set, then join orders. Filtering before the join is the
  Q18 lesson: the join input is the 1% of orders that qualify, not
  the full fact table.
- copurchase_pairs: the within-group all-pairs fan-out is bounded by
  per-order basket size (TPC-H max 7 distinct parts/order, so ≤ C(7,2)
  = 21 pairs per order — linear in lineitem regardless of corpus
  size). The pair-count agg has map-side combine; top-N plans as
  TakeOrderedAndProject. The skew hazard of basket mining is giant
  baskets, absent here by construction; for open-schema data the
  per-basket distinct-item cap BASKET_CAP bounds it (the DF_CAP
  analog used in functions/dedup.py).
- latest_event_per_user: single hash agg, max over a (ts, id, ...)
  struct — the deterministic argmax (field-by-field struct ordering
  breaks ties by event_id), no window over raw events (a per-user
  window would sort the whole corpus; max() folds map-side).
- events_props_stats: JSON field extraction stays JVM-side
  (get_json_object, codegen'd); the agg is |event_type| groups.
  At 100 TB you would materialize extracted columns once rather than
  re-parse per query — the variant-shredding this query's SELECT
  demonstrates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simpleetlpipeline_spark.io import read_table
from simpleetlpipeline_spark.operators.aggregates import ordered_pairs
from simpleetlpipeline_spark.operators.dates import (
    HOUR_US,
    label_of_month_start,
    month_start,
    epoch_date,
    epoch_day,
    hour_bucket,
    hour_of,
    iso_second_label,
    month_label,
    sql_month_label,
    ts_lit,
)
from simpleetlpipeline_spark.plans.analytics import COMPLETED

PROMO_TYPE = "PROMO"


def promo_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped conditional aggregation: per ship month, the
    share of discounted revenue coming from PROMO-type parts.

    Rounding contract: both engines round the two double sums to 2dp
    first, then divide the identical rounded doubles (IEEE-identical)
    and floor the share at 4dp — no float-accumulation-order hazard
    reaches the hashed columns.
    """
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    monthly = (
        lineitem.join(F.broadcast(part),
                      F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(month_start("l_shipdate").alias("__m"))
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == PROMO_TYPE, rev)
                          .otherwise(F.lit(0.0))), 2).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )
    share = F.col("promo_revenue") / F.col("total_revenue") * 100
    return monthly.select(
        label_of_month_start("__m").alias("month"),
        "promo_revenue", "total_revenue",
        (F.floor(share * 10000) / 10000).alias("promo_share_pct"),
    )


LATE_DAYS = 60


def late_ship_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: orders having at least one lineitem
    shipped more than LATE_DAYS days after the order date, counted
    per order priority — the fulfillment-SLA breach report. The
    EXISTS is a LEFT SEMI join (first match wins, no duplication of
    the probe side), the join shape the reference never used."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    lateness = epoch_day("l_shipdate") - epoch_day("o_orderdate")
    return (
        orders.join(
            lineitem,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (lateness > LATE_DAYS),
            "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


LARGE_VOLUME_QTY = 250.0


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped agg-then-join: orders whose total lineitem
    quantity exceeds LARGE_VOLUME_QTY, with order attributes attached.
    The aggregate runs BEFORE the join so only the ~1% survivor set
    is joined back — the canonical big-fact pattern."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    big = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > LARGE_VOLUME_QTY)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_custkey",
                epoch_date("o_orderdate").alias("order_date"),
                "o_totalprice", "total_qty")
    )


COPURCHASE_TOP_N = 100


#: Distinct-parts cap per basket: far above TPC-H's max (7) so it is
#: inert on testdata, but it bounds the C(n,2) fan-out on open-schema
#: baskets — the DF_CAP analog (functions/dedup.py) for basket mining.
#: Deterministic: the sorted basket keeps the `cap` smallest partkeys.
BASKET_CAP = 64


def _basket_pairs(items: DataFrame, cap: bool) -> DataFrame:
    """(pa, pb) rows: every a<b item pair of every basket, once per
    basket. `items` is a two-column (basket key, item) frame.

    Posting-list form (measured ~1.9x vs the orderkey self-join it
    replaced): ONE shuffle builds the per-basket sorted distinct item
    array (collect_set folds map-side) — with the BASKET_CAP slice
    when `cap` — and pairs are emitted in-array by ordered_pairs (the
    a<b guard is positional in the sorted basket). The self-join
    version shuffled lineitem three times and re-joined it; this
    moves each basket exactly once. Uncapped callers match their
    oracle's a<b self-join exactly."""
    key, item = items.columns
    parts = F.sort_array(F.collect_set(item))
    if cap:
        parts = F.slice(parts, 1, BASKET_CAP)
    return (
        items.groupBy(key).agg(parts.alias("parts"))
        .filter(F.size("parts") >= 2)
        .select(F.explode(ordered_pairs(
            F.col("parts"),
            lambda x, y: F.struct(x.alias("pa"), y.alias("pb")))).alias("p"))
        .select("p.pa", "p.pb")
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the top-N part pairs most often
    bought in the same order.

    The capped _basket_pairs of each order (one basket shuffle), then
    one pair-keyed count agg."""
    return (
        _basket_pairs(read_table(spark, sf_dir, "lineitem")
                      .select("l_orderkey", "l_partkey"), cap=True)
        .groupBy(F.col("pa").alias("part_a"), F.col("pb").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(COPURCHASE_TOP_N)
    )


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax-per-group: each user's latest event
    (ties on ts broken by highest event_id) via max() over a struct —
    field-by-field struct comparison makes the winner well-defined,
    unlike bare max_by under ties."""
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value")
    last = F.max(F.struct("ts", "event_id", "event_type", "value")) \
        .alias("last")
    return (
        events.groupBy("user_id").agg(last)
        .select("user_id",
                # raw epoch micros, not TIMESTAMP (collect() renders
                # TIMESTAMP via the process timezone — the class
                # banned by tests/test_oracle_types.py)
                F.unix_micros(F.col("last.ts")).alias("last_ts_us"),
                F.col("last.event_id").alias("event_id"),
                F.col("last.event_type").alias("event_type"),
                F.col("last.value").alias("event_value"))
    )


def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON `props` payload
    per event, pull the integer field `k`, and profile it per event
    type. Integer sums are exact, so the mean is one deterministic
    division, floored at 4dp in both engines."""
    events = read_table(spark, sf_dir, "events").select(
        "event_type", "props")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.count("k").alias("n_with_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"),
             (F.floor(F.sum("k") / F.count("k") * 10000) / 10000)
             .alias("mean_k"))
    )


QUERIES = {
    "promo_revenue_monthly": promo_revenue_monthly,
    "late_ship_orders": late_ship_orders,
    "large_volume_orders": large_volume_orders,
    "copurchase_pairs": copurchase_pairs,
    "latest_event_per_user": latest_event_per_user,
    "events_props_stats": events_props_stats,
}

ORACLE_SQL = {
    "promo_revenue_monthly": f"""
        WITH m AS (
            SELECT strftime(l_shipdate, '%Y-%m') AS month,
                   round(sum(CASE WHEN p_type = '{PROMO_TYPE}'
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0 END), 2) AS promo_revenue,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        )
        SELECT month, promo_revenue, total_revenue,
               floor(promo_revenue / total_revenue * 100 * 10000) / 10000
                   AS promo_share_pct
        FROM m
    """,
    "late_ship_orders": f"""
        SELECT o_orderpriority, count(*) AS n_late_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) > {LATE_DAYS}
        )
        GROUP BY 1
        ORDER BY 1
    """,
    "large_volume_orders": f"""
        WITH big AS (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem
            GROUP BY 1
            HAVING round(sum(l_quantity), 2) > {LARGE_VOLUME_QTY}
        )
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate AS DATE) AS order_date,
               o_totalprice, total_qty
        FROM orders JOIN big ON o_orderkey = l_orderkey
    """,
    "copurchase_pairs": f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_orders
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a ASC, part_b ASC
        LIMIT {COPURCHASE_TOP_N}
    """,
    "latest_event_per_user": """
        SELECT user_id, epoch_us(ts) AS last_ts_us, event_id,
               event_type, value AS event_value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) = 1
    """,
    "events_props_stats": """
        WITH e AS (
            SELECT event_type, CAST(props->>'k' AS BIGINT) AS k
            FROM events
        )
        SELECT event_type,
               count(*) AS n_events,
               count(k) AS n_with_k,
               min(k) AS min_k,
               max(k) AS max_k,
               floor(CAST(sum(k) AS DOUBLE) / count(k) * 10000) / 10000
                   AS mean_k
        FROM e
        GROUP BY 1
    """,
}


def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: per (event_type, hour)
    activity on a DENSE hour spine — silent hours appear as explicit
    zero rows, which is what any downstream chart, anomaly detector,
    or forecasting job needs (a missing bucket and an idle bucket are
    different facts).

    Spine construction is sequence(min_hour, max_hour) exploded per
    type: spine size is |hours| x |types| regardless of corpus size,
    so the spine side is always the small side — it broadcasts, and
    the left join back to the aggregated counts (already |buckets|
    rows, not raw events) stays shuffle-free on the probe side.

    Round-9 TZ-proofing (caught by the pre-rotation hostile-TZ
    rung): the bucket key is now the integer hours-since-epoch id
    end to end (a LONG sequence spine, step 1) and the output hour
    renders as an ISO label string — the previous TimestampType
    output held the correct UTC instants but PySpark's collect()
    renders TimestampType through the local process timezone, so a
    non-UTC driver saw shifted wall-clock datetimes.
    """
    events = read_table(spark, sf_dir, "events").select(
        "event_type", hour_bucket("ts").alias("hb"), "value")
    counts = (
        events.groupBy("event_type", "hb")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )
    bounds = events.agg(F.min("hb").alias("lo"), F.max("hb").alias("hi"))
    spine = (
        events.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type",
                F.explode(F.sequence("lo", "hi")).alias("hb"))
    )
    return (
        spine.join(counts, ["event_type", "hb"], "left")
        .select("event_type",
                iso_second_label(
                    F.timestamp_micros(F.col("hb") * HOUR_US))
                .alias("hour"),
                F.coalesce("n_events", F.lit(0)).alias("n_events"),
                F.coalesce("total_value", F.lit(0.0)).alias("total_value"))
    )


QUERIES["events_hourly_gapfill"] = events_hourly_gapfill

ORACLE_SQL["events_hourly_gapfill"] = """
    WITH e AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS hb, value
        FROM events
    ), counts AS (
        SELECT event_type, hb, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM e GROUP BY 1, 2
    ), bounds AS (
        SELECT min(hb) AS lo, max(hb) AS hi FROM e
    ), spine AS (
        SELECT t.event_type, s.hb
        FROM (SELECT DISTINCT event_type FROM e) t
        CROSS JOIN (
            SELECT unnest(generate_series(lo, hi)) AS hb
            FROM bounds) s
    )
    SELECT sp.event_type,
           strftime(make_timestamp(sp.hb * 3600000000),
                    '%Y-%m-%dT%H:%M:%S') AS hour,
           coalesce(c.n_events, 0) AS n_events,
           coalesce(c.total_value, 0.0) AS total_value
    FROM spine sp
    LEFT JOIN counts c USING (event_type, hb)
"""


#: Deterministic batch split for the incremental-maintenance demo:
#: ~10% of orders arrive as the "new" delta batch.
DELTA_MOD = 10


def monthly_sales_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for the A1 monthly rollup: the
    base aggregate (history) is merged with the aggregate of a new
    delta batch WITHOUT rescanning history rows — at 100 TB the
    difference between a nightly full rescan and touching only the
    day's partition. Sum/count are the mergeable aggregates; the
    merge is a full-outer month join of two pre-aggregated frames
    (|months| rows each) with coalesce(0) on both sides.

    Determinism contract: each side's double sum is rounded to 2dp
    BEFORE the merge, and the oracle mirrors the same split and the
    same add-of-rounded-parts association, so both engines fold
    identical doubles in identical order (the merged total can
    differ from a full-scan round(sum) by <1 cent by construction —
    the manifest documents per-part rounding, not a re-scan)."""
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == COMPLETED)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )

    def rollup(df):
        # DATE month key; the label renders on the merged |months|
        # frame below (dates.month_label hot-path contract)
        return (
            df.groupBy(month_start("o_orderdate").alias("month"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        )

    is_delta = F.col("o_orderkey") % DELTA_MOD == 0
    base = rollup(orders.filter(~is_delta)).select(
        "month", F.col("n_orders").alias("base_n"),
        F.col("revenue").alias("base_rev"))
    delta = rollup(orders.filter(is_delta)).select(
        "month", F.col("n_orders").alias("delta_n"),
        F.col("revenue").alias("delta_rev"))
    return (
        base.join(delta, "month", "full_outer")
        .select(
            label_of_month_start("month").alias("month"),
            (F.coalesce("base_n", F.lit(0))
             + F.coalesce("delta_n", F.lit(0))).alias("total_orders"),
            F.round(F.coalesce("base_rev", F.lit(0.0))
                    + F.coalesce("delta_rev", F.lit(0.0)), 2)
            .alias("total_revenue"),
        )
        .orderBy("month")
    )


QUERIES["monthly_sales_incremental"] = monthly_sales_incremental

ORACLE_SQL["monthly_sales_incremental"] = f"""
    WITH base AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               count(*) AS n, round(sum(o_totalprice), 2) AS rev
        FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % {DELTA_MOD} != 0
        GROUP BY 1
    ), delta AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               count(*) AS n, round(sum(o_totalprice), 2) AS rev
        FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % {DELTA_MOD} = 0
        GROUP BY 1
    )
    SELECT coalesce(b.month, d.month) AS month,
           CAST(coalesce(b.n, 0) + coalesce(d.n, 0) AS BIGINT)
               AS total_orders,
           round(coalesce(b.rev, 0.0) + coalesce(d.rev, 0.0), 2)
               AS total_revenue
    FROM base b FULL OUTER JOIN delta d USING (month)
    ORDER BY 1
"""


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff of two dimension snapshots: per key,
    whether the row was added, removed, or changed between versions —
    the audit every warehouse migration and every incremental-load
    reconciliation runs. One full-outer key join; the change test
    compares a canonical attribute struct with null-safe equality.

    The 'old' snapshot is customer as stored; the 'new' snapshot is
    a deterministic mutation (every 9th customer's balance credited,
    every 50th dropped, synthetic keys appended) so the diff output
    exercises all three verdicts and both engines rebuild it
    identically. Synthetic 'added' keys are the NEGATED custkey:
    TPC-H custkeys are positive at every SF, so negation can never
    collide with a real key (a fixed additive offset would collide
    once 150k*SF crosses it, fanning out the full-outer join)."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal"))
    k = F.col("c_custkey")
    new = (
        cust.filter(k % 50 != 0)
        .select("c_custkey",
                F.when(k % 9 == 0, F.round(F.col("bal") + 10, 2))
                .otherwise(F.col("bal")).alias("bal"))
        .unionByName(
            cust.filter(k % 100 == 7)
            .select((-k).alias("c_custkey"), "bal"))
    )
    old_s = cust.select("c_custkey", F.struct("bal").alias("old"))
    new_s = new.select("c_custkey", F.struct("bal").alias("new"))
    verdict = (
        F.when(F.col("old").isNull(), F.lit("added"))
        .when(F.col("new").isNull(), F.lit("removed"))
        .when(~F.col("old").eqNullSafe(F.col("new")), F.lit("changed"))
    )
    return (
        old_s.join(new_s, "c_custkey", "full_outer")
        .select("c_custkey", verdict.alias("change"),
                F.col("old.bal").alias("old_bal"),
                F.col("new.bal").alias("new_bal"))
        .filter(F.col("change").isNotNull())
    )


QUERIES["snapshot_diff"] = snapshot_diff

ORACLE_SQL["snapshot_diff"] = """
    WITH old AS (
        SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
    ), new AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 9 = 0 THEN round(bal + 10, 2)
                    ELSE bal END AS bal
        FROM old WHERE c_custkey % 50 != 0
        UNION ALL
        SELECT -c_custkey, bal FROM old
        WHERE c_custkey % 100 = 7
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                WHEN o.bal != n.bal THEN 'changed' END AS change,
           o.bal AS old_bal, n.bal AS new_bal
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    WHERE CASE WHEN o.c_custkey IS NULL THEN 'added'
               WHEN n.c_custkey IS NULL THEN 'removed'
               WHEN o.bal != n.bal THEN 'changed' END IS NOT NULL
"""


def compaction_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-ops attestation (round-8 verdict task #4): one plan
    that exercises the full io-layer lifecycle — versioned seed
    publish → MERGE upsert (io.merge_upsert) → small-files compaction
    (io.compact_table) → time-travel read of the pre-merge snapshot
    (io.read_table_version) — and returns a content invariant the
    DuckDB oracle can rebuild from the source table alone.

    Lifecycle, against a throwaway /tmp table root:
      v1   seed: customer (c_custkey, bal_cents) written as 8 small
           files via write_table_version.
      v2   merge_upsert of a deterministic delta: every 9th key's
           balance credited +1000 cents (update path), every
           custkey%100==7 key re-inserted NEGATED (insert path —
           TPC-H keys are positive at every SF, so no collision).
      v2c  compact_table rewrite of the v2 snapshot (8 files → 1).

    Output: one row per snapshot (v1 time-traveled, v2 current, v2c
    compacted) with exact-integer content aggregates. The invariant
    the hash gate enforces: v1 matches the oracle's base CTE (publish
    + time travel are lossless), v2 matches the oracle's merged CTE
    (the anti-join⊕union MERGE algebra is exactly SQL MERGE), and v2c
    carries IDENTICAL aggregates to v2 (compaction moves bytes, never
    rows). files_ok asserts the rewrite did not grow the file count.

    Scale: merge is one left-anti shuffle + union (no driver rows);
    compaction is one round-robin repartition sized by bytes. The
    3-row result re-enters through io.scratch_rows_df, which deletes
    the scratch root before returning."""
    from simpleetlpipeline_spark.io import (
        compact_table,
        merge_upsert,
        read_table_version,
        scratch_rows_df,
        write_table_version,
    )

    def build(td: str) -> DataFrame:
        root = os.path.join(td, "cust_bal")
        base = read_table(spark, sf_dir, "customer").select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100).cast("long")
            .alias("bal_cents"))
        write_table_version(base.repartition(8), root)

        k = F.col("c_custkey")
        updates = (
            base.filter(k % 9 == 0)
            .select("c_custkey",
                    (F.col("bal_cents") + 1000).alias("bal_cents"))
            .unionByName(
                base.filter(k % 100 == 7)
                .select((-k).alias("c_custkey"), "bal_cents"))
        )
        v2_dir = merge_upsert(spark, root, updates, ["c_custkey"])
        files_before, files_after = compact_table(
            spark, v2_dir, target_mb=1024)

        def _agg(df: DataFrame, label: str) -> DataFrame:
            return df.agg(
                F.lit(label).alias("snapshot"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct("c_custkey").alias("n_keys"),
                F.sum("bal_cents").alias("sum_bal_cents"),
                F.min("c_custkey").alias("min_key"),
                F.max("c_custkey").alias("max_key"),
                F.lit(files_after <= files_before).alias("files_ok"))

        return (
            _agg(read_table_version(spark, root, version=1), "v1_seed")
            .unionAll(_agg(read_table_version(spark, root), "v2_merged"))
            .unionAll(_agg(read_table_version(spark, v2_dir + "_compacted"),
                           "v2_compacted"))
            .orderBy("snapshot")
        )

    return scratch_rows_df(spark, "compaction_inv_", build)


QUERIES["compaction_invariant"] = compaction_invariant

ORACLE_SQL["compaction_invariant"] = """
    WITH base AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    ), merged AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 9 = 0 THEN bal_cents + 1000
                    ELSE bal_cents END AS bal_cents
        FROM base
        UNION ALL
        SELECT -c_custkey, bal_cents FROM base WHERE c_custkey % 100 = 7
    ), snap AS (
        SELECT 'v1_seed' AS snapshot, * FROM base
        UNION ALL
        SELECT 'v2_merged', * FROM merged
        UNION ALL
        SELECT 'v2_compacted', * FROM merged
    )
    SELECT snapshot,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys,
           CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents,
           CAST(min(c_custkey) AS BIGINT) AS min_key,
           CAST(max(c_custkey) AS BIGINT) AS max_key,
           TRUE AS files_ok
    FROM snap
    GROUP BY snapshot
    ORDER BY snapshot
"""


def user_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the first-order Markov transition matrix over
    per-user event paths — for each (from_type, to_type) pair of
    CONSECUTIVE events of one user, the count and the conditional
    transition probability. The behavioral model behind funnels,
    next-action prediction, and bot detection.

    Plan: one shuffle keyed by user for the lag() ordering (per-user
    groups are bounded by per-user activity — no global sort), then a
    hash agg to the |types|^2 matrix, then the probability division
    on the tiny aggregated frame (window over from_type partitions of
    at most |types| rows). Counts are exact ints, so the probability
    is one deterministic division, floored at 4dp in both engines.
    """
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_from = Window.partitionBy("from_type")
    prob = (F.col("n_transitions")
            / F.sum("n_transitions").over(w_from) * 10000)
    return pairs.select(
        "from_type", "to_type", "n_transitions",
        (F.floor(prob) / 10000).alias("transition_prob"))


QUERIES["user_path_transitions"] = user_path_transitions

ORACLE_SQL["user_path_transitions"] = """
    WITH p AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS from_type,
               event_type AS to_type
        FROM events
    ), m AS (
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM p WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           floor(CAST(n_transitions AS DOUBLE)
                 / sum(n_transitions) OVER (PARTITION BY from_type)
                 * 10000) / 10000 AS transition_prob
    FROM m
"""


def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap grid: event counts per (ISO weekday, hour of
    day) — the seasonality view behind capacity planning and anomaly
    baselines. One hash aggregate to a fixed 7x24-row grid; weekday
    is ISO-numbered (1=Monday) explicitly because engines disagree on
    the default (Spark dayofweek is 1=Sunday, DuckDB dayofweek is
    0=Sunday — both avoided)."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.select(
            (F.pmod(epoch_day("ts") + 3, F.lit(7)) + 1)
            .cast("int").alias("iso_dow"),
            hour_of("ts").alias("hour_of_day"),
            "value")
        .groupBy("iso_dow", "hour_of_day")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


QUERIES["events_dow_hour_heatmap"] = events_dow_hour_heatmap

ORACLE_SQL["events_dow_hour_heatmap"] = """
    SELECT CAST(isodow(ts) AS INT) AS iso_dow,
           CAST(hour(ts) AS INT) AS hour_of_day,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
"""


def order_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing windows: each order's percent_rank and
    cume_dist within its status partition — the 'where does this
    order sit in its cohort' scoring a pricing or fraud model
    consumes. One shuffle keyed by status; both scores are ratios of
    exact integer ranks ((rank-1)/(n-1), rows<=x / n), so the floored
    doubles are engine-identical. Ties share ranks deterministically
    (value ordering only — no arbitrary id tiebreak needed)."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        (F.floor(F.percent_rank().over(w) * 1_000_000) / 1_000_000)
        .alias("pct_rank"),
        (F.floor(F.cume_dist().over(w) * 1_000_000) / 1_000_000)
        .alias("cume_dist"),
    )


QUERIES["order_percentile_ranks"] = order_percentile_ranks

ORACLE_SQL["order_percentile_ranks"] = """
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           floor(percent_rank() OVER w * 1000000) / 1000000 AS pct_rank,
           floor(cume_dist() OVER w * 1000000) / 1000000 AS cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
"""


#: 30-minute dedup window in micros (events_dedup_batch).
DEDUP_WINDOW_US = 1_800_000_000


def events_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming_event_dedup: within each 30-minute
    tumbling window, collapse repeated (user, event_type) activity to
    one canonical row (min event_id) plus the duplicate count — the
    backfill form of the same dedup the streaming state store runs
    live, so a replayed history and the live stream agree. One hash
    aggregate; no session state.

    The bucket is published as RAW epoch micros (window_start_us),
    not a TIMESTAMP: pyspark's collect() renders TIMESTAMP columns
    through the PROCESS-local timezone (independent of the pinned
    session timezone), so a raw-timestamp output reds under the
    hostile-TZ ladder rung while the integer bucket is
    tz-free-by-construction — the operators/dates.py idiom (caught
    by the round-10 pre-rotation ladder). The bucketing itself is
    pure integer arithmetic, equivalent to F.window('30 minutes')
    .start for any timezone whose UTC offset is a 30-minute
    multiple, and unlike F.window it cannot shift under a
    Nepal-class (+5:45) session timezone."""
    us = F.unix_micros(F.col("ts"))
    return (
        read_table(spark, sf_dir, "events")
        .groupBy(
            (us - F.pmod(us, F.lit(DEDUP_WINDOW_US)))
            .alias("window_start_us"),
            "user_id", "event_type")
        .agg(F.min("event_id").alias("event_id"),
             F.count(F.lit(1)).alias("n_occurrences"))
    )


QUERIES["events_dedup_batch"] = events_dedup_batch

# Floored modulo, spelled ((x % W) + W) % W: DuckDB's bare % truncates
# toward zero (-7 % 2 = -1) while Spark's F.pmod floors, so the naive
# `epoch_us(ts) % W` oracle diverges for any pre-1970 timestamp. The
# double-mod form is pure int64 arithmetic (no float round-trip) and
# agrees with pmod for all inputs, not just the post-epoch fixture.
ORACLE_SQL["events_dedup_batch"] = f"""
    SELECT epoch_us(ts)
               - ((epoch_us(ts) % {DEDUP_WINDOW_US} + {DEDUP_WINDOW_US})
                  % {DEDUP_WINDOW_US})
               AS window_start_us,
           user_id, event_type,
           min(event_id) AS event_id,
           count(*) AS n_occurrences
    FROM events
    GROUP BY 1, 2, 3
"""


PAGERANK_ITERS = 3
PAGERANK_MIN_ORDERS = 2
PAGERANK_TOP_N = 20
_PR_UNIT = 10**12  # rank fixed-point denominator
_PR_DAMP_NUM = 85  # damping 0.85 as an integer percentage


def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over the copurchase graph: which parts sit
    at the center of the bought-together network (the 'hub product'
    ranking a recommender or assortment planner starts from). The
    graph is the undirected part-pair graph of orders (pairs bought
    together in >= PAGERANK_MIN_ORDERS orders), and rank runs PAGERANK_ITERS
    synchronous power iterations with damping 0.85.

    This is the repo's worked example of an ITERATIVE distributed
    algorithm on DataFrames: each iteration is one edge-keyed join +
    one destination-keyed aggregate, the edge/degree tables are
    computed once and cached (released by the caller's cache
    registry), and the loop unrolls into a lineage of bounded depth
    (PAGERANK_ITERS is small and fixed — for hundreds of iterations you'd
    checkpoint every ~10 to cut lineage).

    Exact-integer contract (fold-order-proof, fully oracle-checkable
    with unrolled CTEs): ranks live as int64 fixed-point units of
    1e-12 — r0 = UNIT//N; each neighbor contribution is r//deg
    (integer division); the damped update is
    (15*(UNIT//N))//100 + (85*sum)//100 — every op is integer, so
    any partial-aggregation order yields bit-identical ranks, unlike
    float PageRank whose per-node sums drift by partitioning.

    Scale: the per-iteration shuffle is |edges| (contributions) +
    |nodes| (sums) — linear, never materializing anything quadratic.
    The basket pair fan-out is C(basket,2) with TPC-H baskets <= 7;
    open-schema data would add _basket_pairs' BASKET_CAP slice
    (omitted here so the oracle's a<b self-join semantics hold
    exactly). Skewed hub
    nodes (huge in-degree) are the classic hazard: the sum agg
    combines map-side, so a hot destination folds per-partition
    before the shuffle.
    """
    from simpleetlpipeline_spark.cache import track

    # uncapped _basket_pairs: the oracle's a<b self-join exactly
    pairs = (_basket_pairs(read_table(spark, sf_dir, "lineitem")
                           .select("l_orderkey", "l_partkey"), cap=False)
             .groupBy("pa", "pb")
             .agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") >= PAGERANK_MIN_ORDERS))
    edges = track(
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(pairs.select(F.col("pb").alias("src"),
                               F.col("pa").alias("dst"))).persist())
    deg = track(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).persist())
    n_nodes = deg.count()  # one scalar to the driver, like kmeans' k
    # no pair reaching PAGERANK_MIN_ORDERS leaves every frame below
    # empty, so the ranking is empty too (the oracle's r0 over an
    # empty deg) — the base only has to avoid dividing by zero
    base = _PR_UNIT // max(n_nodes, 1)
    teleport = (100 - _PR_DAMP_NUM) * base // 100

    ranks = deg.select(F.col("src").alias("node"),
                       F.lit(base).cast("long").alias("r"))
    for _ in range(PAGERANK_ITERS):
        contribs = (
            edges
            .join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select(F.col("dst").alias("node"),
                    F.expr("r DIV d").alias("c"))
        )
        ranks = (
            contribs.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .select("node",
                    (F.lit(teleport)
                     + F.expr(f"({_PR_DAMP_NUM} * s) DIV 100"))
                    .cast("long").alias("r"))
        )
    return (
        ranks.join(deg, ranks["node"] == deg["src"])
        .select(F.col("node").alias("partkey"),
                F.col("r").alias("rank12"),
                F.col("d").alias("degree"))
        .orderBy(F.desc("rank12"), F.asc("partkey"))
        .limit(PAGERANK_TOP_N)
    )


QUERIES["copurchase_pagerank"] = copurchase_pagerank


def _pagerank_oracle() -> str:
    base_sql = f"(CAST({_PR_UNIT} AS BIGINT) // cnt)"
    teleport = f"((100 - {_PR_DAMP_NUM}) * {base_sql} // 100)"
    rounds = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        rounds.append(f"""s{i} AS (
            SELECT e.dst AS node, sum({prev}.r // deg.d) AS s
            FROM edges e
            JOIN {prev} ON e.src = {prev}.node
            JOIN deg ON e.src = deg.src
            GROUP BY 1
        ), r{i} AS (
            SELECT node,
                   CAST({teleport}
                        + ({_PR_DAMP_NUM} * s) // 100 AS BIGINT) AS r
            FROM s{i} CROSS JOIN n
        )""")
        prev = f"r{i}"
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {PAGERANK_MIN_ORDERS}
        ), edges AS (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION ALL
            SELECT pb AS src, pa AS dst FROM pairs
        ), deg AS (
            SELECT src, count(*) AS d FROM edges GROUP BY 1
        ), n AS (
            SELECT count(*) AS cnt FROM deg
        ), r0 AS (
            SELECT src AS node, CAST({base_sql} AS BIGINT) AS r
            FROM deg CROSS JOIN n
        ), {', '.join(rounds)}
        SELECT node AS partkey, r AS rank12, d AS degree
        FROM {prev} JOIN deg ON node = src
        ORDER BY rank12 DESC, partkey ASC
        LIMIT {PAGERANK_TOP_N}
    """


ORACLE_SQL["copurchase_pagerank"] = _pagerank_oracle()


#: Deterministic CDC script for the retraction demo: every 17th order
#: is deleted, every (non-deleted) 10th order has its price corrected
#: by +10% (exact decimal math, so no cross-engine rounding).
RETRACT_DELETE_MOD = 17
RETRACT_UPDATE_MOD = 10


def monthly_sales_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance WITH RETRACTIONS — the general
    CDC case monthly_sales_incremental's insert-only merge can't
    handle: a change feed of deletes and updates maintains the A1
    monthly rollup as signed deltas (delete → (-1, -price); update →
    (-1, -old) + (+1, +new)), merged onto the base aggregate without
    rescanning history. Sum/count are the retractable aggregates
    (min/max are not — a retraction there forces a rescan, which is
    why production IVM keeps them in separate sketches or recomputes
    them lazily).

    The output carries BOTH the maintained totals and a full
    recompute over the post-CDC state: the hash gate then proves the
    IVM algebra exact, not approximately-right. (A production
    pipeline drops the recheck columns — they cost the rescan the
    maintained path exists to avoid.)

    Determinism: all money flows through exact decimal sums (the
    subqueries-module contract), and the +10% correction is decimal
    arithmetic (18,2)x(3,1) — exact 3dp, no float round anywhere.
    Round-6 hardening: the revenue outputs are emitted as BIGINT
    milli-units (the exact decimal(21,3) sums x1000) rather than
    double — the round-5 driver gate recorded a hash mismatch on the
    final double columns that no local replica (sf0.01/sf0.1,
    hostile shuffle, LA-timezone session) could reproduce, so the
    double→display divergence surface is removed outright: hashing
    an int64 cannot wobble across engines or canonicalizers.
    Round-7 hardening (the r6 red persisted on all-BIGINT outputs,
    isolating the divergence to the MONTH BUCKETING): the month
    label now derives from raw epoch micros via pure DATE arithmetic
    (operators/dates.month_label) on the Spark side AND the
    epoch_us-based twin on the oracle side, so no session-timezone
    or parquet-reader flavor on either engine can shift a
    midnight-UTC order into the adjacent month (the reproduced
    round-6 mechanism; see tests/test_dates.py).

    Round-8 ROOT CAUSE (found after the r7 date-axis canary came
    back driver-green while this query stayed red, falsifying the
    calendar theory): the ORACLE's `total_orders` was the only
    un-cast column — `coalesce(count(*),0) + coalesce(sum(int),0)`
    is HUGEINT in DuckDB (sum of integers widens to INT128), and
    DuckDB's pandas/arrow fetch converts HUGEINT to float64
    (`str(74.0) != str(74)` under a str-canonicalizing comparator),
    while the fetchall() path every local replica used yields exact
    Python ints — which is exactly why three rounds of sf0.01/sf0.1/
    hostile-shuffle/hostile-TZ replicas could never reproduce it.
    The r7 gate's only two hash-reds were exactly the only two gated
    entries with an INT128-backed oracle output column (this one and
    revenue_cusum_changepoint's DECIMAL(38,0)). Fix: CAST the oracle
    sum to BIGINT; the catalog-wide contract test
    (tests/test_oracle_types.py) now bans HUGEINT/DECIMAL outputs
    everywhere, and plans/analytics.int128_fetch_probe carries a
    deliberate HUGEINT so the r8 driver run confirms the mechanism.
    """
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == COMPLETED)
        .select(F.col("o_orderkey").alias("k"),
                month_start("o_orderdate").alias("month"),
                dec.alias("price"))
    )
    is_del = F.col("k") % RETRACT_DELETE_MOD == 0
    is_upd = (~is_del) & (F.col("k") % RETRACT_UPDATE_MOD == 0)
    new_price = F.col("price") * F.lit("1.1").cast("decimal(3,1)")

    base = (orders.groupBy("month")
            .agg(F.count(F.lit(1)).alias("base_n"),
                 F.sum(F.col("price").cast("decimal(21,3)"))
                 .alias("base_rev")))
    # Signed CDC deltas: one pass over the affected rows only.
    deltas = (
        orders.filter(is_del | is_upd)
        .select(
            "month",
            F.when(is_del, F.lit(-1)).otherwise(F.lit(0)).alias("dn"),
            F.when(is_del, (-F.col("price")).cast("decimal(21,3)"))
            .otherwise((new_price - F.col("price")).cast("decimal(21,3)"))
            .alias("dr"))
        .groupBy("month")
        .agg(F.sum("dn").alias("delta_n"), F.sum("dr").alias("delta_rev"))
    )
    maintained = (
        base.join(deltas, "month", "full_outer")
        .select(
            "month",
            (F.coalesce("base_n", F.lit(0))
             + F.coalesce("delta_n", F.lit(0))).alias("total_orders"),
            ((F.coalesce(F.col("base_rev"),
                         F.lit(0).cast("decimal(21,3)"))
              + F.coalesce(F.col("delta_rev"),
                           F.lit(0).cast("decimal(21,3)")))
             * 1000).cast("long").alias("total_revenue_milli"))
    )
    # Ground-truth recompute over the post-CDC state (demo-only).
    recheck = (
        orders.filter(~is_del)
        .select("month",
                F.when(is_upd, new_price.cast("decimal(21,3)"))
                .otherwise(F.col("price").cast("decimal(21,3)"))
                .alias("p"))
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("recheck_orders"),
             (F.sum("p") * 1000).cast("long")
             .alias("recheck_revenue_milli"))
    )
    return (maintained.join(recheck, "month")
            .withColumn("month", label_of_month_start("month"))
            .orderBy("month"))


QUERIES["monthly_sales_retract"] = monthly_sales_retract

ORACLE_SQL["monthly_sales_retract"] = f"""
    WITH o AS (
        SELECT o_orderkey AS k,
               {sql_month_label('o_orderdate')} AS month,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               o_orderkey % {RETRACT_DELETE_MOD} = 0 AS is_del,
               o_orderkey % {RETRACT_DELETE_MOD} != 0
                   AND o_orderkey % {RETRACT_UPDATE_MOD} = 0 AS is_upd
        FROM orders WHERE o_orderstatus = 'F'
    ), base AS (
        SELECT month, count(*) AS base_n,
               sum(CAST(price AS DECIMAL(21,3))) AS base_rev
        FROM o GROUP BY 1
    ), deltas AS (
        SELECT month,
               sum(CASE WHEN is_del THEN -1 ELSE 0 END) AS delta_n,
               sum(CASE WHEN is_del
                   THEN CAST(-price AS DECIMAL(21,3))
                   ELSE CAST(price * CAST(1.1 AS DECIMAL(3,1)) - price
                             AS DECIMAL(21,3)) END) AS delta_rev
        FROM o WHERE is_del OR is_upd GROUP BY 1
    ), maintained AS (
        SELECT month,
               CAST(coalesce(base_n, 0) + coalesce(delta_n, 0)
                    AS BIGINT) AS total_orders,
               CAST((coalesce(base_rev, CAST(0 AS DECIMAL(21,3)))
                     + coalesce(delta_rev, CAST(0 AS DECIMAL(21,3))))
                    * 1000 AS BIGINT) AS total_revenue_milli
        FROM base FULL OUTER JOIN deltas USING (month)
    ), recheck AS (
        SELECT month, count(*) AS recheck_orders,
               CAST(sum(CASE WHEN is_upd
                        THEN CAST(price * CAST(1.1 AS DECIMAL(3,1))
                                  AS DECIMAL(21,3))
                        ELSE CAST(price AS DECIMAL(21,3)) END)
                    * 1000 AS BIGINT) AS recheck_revenue_milli
        FROM o WHERE NOT is_del GROUP BY 1
    )
    SELECT month, total_orders, total_revenue_milli,
           recheck_orders, recheck_revenue_milli
    FROM maintained JOIN recheck USING (month)
    ORDER BY month
"""


def retract_base_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 bisection canary (round-7 verdict task #1): the BASE
    layer of monthly_sales_retract in isolation — per-month order
    count and exact revenue milli-units over status-F orders, no CDC
    algebra, no full-outer merge. If the parent reds while this is
    green, the divergence lives in the delta/merge layer; if this
    reds too, it is in the base rollup itself. All outputs BIGINT
    (the oracle casts its sums explicitly — the r8 root-cause class
    was an un-cast INT128 oracle column, see the parent's docstring).

    Scale: one map-side-combined hash aggregate, |months| groups."""
    return (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == COMPLETED)
        .select(month_start("o_orderdate").alias("__m"),
                F.col("o_totalprice").cast("decimal(18,2)").alias("price"))
        .groupBy("__m")
        .agg(F.count(F.lit(1)).alias("base_n"),
             (F.sum(F.col("price").cast("decimal(21,3)")) * 1000)
             .cast("long").alias("base_rev_milli"))
        .select(label_of_month_start("__m").alias("month"),
                "base_n", "base_rev_milli")
        .orderBy("month")
    )


QUERIES["retract_base_canary"] = retract_base_canary

ORACLE_SQL["retract_base_canary"] = f"""
    SELECT {sql_month_label('o_orderdate')} AS month,
           count(*) AS base_n,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                         AS DECIMAL(21,3))) * 1000 AS BIGINT)
               AS base_rev_milli
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY 1
    ORDER BY month
"""


def retract_delta_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 bisection canary: the DELTA layer of
    monthly_sales_retract in isolation — the signed CDC aggregates
    (delete → (-1, -price); update → (0, +10% correction)) per
    month, before the full-outer merge onto the base. The oracle
    CASTs delta_n to BIGINT (DuckDB sum(int) is HUGEINT — the exact
    r8 root cause in the parent). Together with retract_base_canary
    this brackets every layer of the parent: base red → base rollup;
    delta red → CDC algebra; both green + parent red → the merge or
    the canonicalizer."""
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == COMPLETED)
        .select(F.col("o_orderkey").alias("k"),
                month_start("o_orderdate").alias("__m"),
                dec.alias("price"))
    )
    is_del = F.col("k") % RETRACT_DELETE_MOD == 0
    is_upd = (~is_del) & (F.col("k") % RETRACT_UPDATE_MOD == 0)
    new_price = F.col("price") * F.lit("1.1").cast("decimal(3,1)")
    return (
        orders.filter(is_del | is_upd)
        .select(
            "__m",
            F.when(is_del, F.lit(-1)).otherwise(F.lit(0)).alias("dn"),
            F.when(is_del, (-F.col("price")).cast("decimal(21,3)"))
            .otherwise((new_price - F.col("price")).cast("decimal(21,3)"))
            .alias("dr"))
        .groupBy("__m")
        .agg(F.sum("dn").cast("long").alias("delta_n"),
             (F.sum("dr") * 1000).cast("long").alias("delta_rev_milli"))
        .select(label_of_month_start("__m").alias("month"),
                "delta_n", "delta_rev_milli")
        .orderBy("month")
    )


QUERIES["retract_delta_canary"] = retract_delta_canary

ORACLE_SQL["retract_delta_canary"] = f"""
    WITH o AS (
        SELECT o_orderkey AS k,
               {sql_month_label('o_orderdate')} AS month,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               o_orderkey % {RETRACT_DELETE_MOD} = 0 AS is_del,
               o_orderkey % {RETRACT_DELETE_MOD} != 0
                   AND o_orderkey % {RETRACT_UPDATE_MOD} = 0 AS is_upd
        FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT month,
           CAST(sum(CASE WHEN is_del THEN -1 ELSE 0 END) AS BIGINT)
               AS delta_n,
           CAST(sum(CASE WHEN is_del
                    THEN CAST(-price AS DECIMAL(21,3))
                    ELSE CAST(price * CAST(1.1 AS DECIMAL(3,1)) - price
                              AS DECIMAL(21,3)) END)
                * 1000 AS BIGINT) AS delta_rev_milli
    FROM o WHERE is_del OR is_upd
    GROUP BY 1
    ORDER BY month
"""


def revenue_cube_nation_segment(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """CUBE rollup over (nation, market segment): every grouping set
    — per (nation, segment), per nation, per segment, and the grand
    total — in one result, with GROUPING flags distinguishing a real
    key from a subtotal row (the OLAP cube surface the catalog's
    plain GROUP BYs never exposed; ANSI GROUP BY CUBE on the oracle
    side, DataFrame.cube on Spark's).

    Scale shape — the part that matters at 100 TB: Spark implements
    cube via Expand (each input row replicated once per grouping
    set), so cubing the raw join would push 4x the FACT table
    through the shuffle. Instead the plan aggregates to the
    (nation, segment) base grid FIRST (one map-side-combined
    shuffle, <= 25x5 groups) and cubes the 125-row base, re-
    aggregating counts as sums — subtotals of exact decimal sums
    are exact, so the two-level form is bit-identical to the direct
    cube while the Expand multiplies 125 rows instead of the fact
    stream. Both dims broadcast into the fact scan.

    Determinism: counts and decimal(21,3) sums only; milli-unit
    BIGINT outputs; NULL grouping keys are rendered 'ALL' (no TPC-H
    nation/segment uses that token), with g_nation/g_segment
    carrying the authoritative subtotal flags."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment")
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)")
        .cast("decimal(21,3)").alias("price"))
    joined = (orders
              .join(F.broadcast(cust),
                    orders["o_custkey"] == cust["c_custkey"])
              .join(F.broadcast(nation),
                    cust["c_nationkey"] == nation["n_nationkey"]))
    base = (joined.groupBy("n_name", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("price").alias("rev")))
    return (base.cube("n_name", "c_mktsegment")
            .agg(F.grouping("n_name").cast("int").alias("g_nation"),
                 F.grouping("c_mktsegment").cast("int").alias("g_segment"),
                 F.sum("n").cast("long").alias("n_orders"),
                 (F.sum("rev") * 1000).cast("long").alias("revenue_milli"))
            .select(
                F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
                F.coalesce(F.col("c_mktsegment"), F.lit("ALL"))
                .alias("segment"),
                "g_nation", "g_segment", "n_orders", "revenue_milli")
            .orderBy("g_nation", "g_segment", "nation", "segment"))


QUERIES["revenue_cube_nation_segment"] = revenue_cube_nation_segment

ORACLE_SQL["revenue_cube_nation_segment"] = """
    SELECT coalesce(n_name, 'ALL') AS nation,
           coalesce(c_mktsegment, 'ALL') AS segment,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           CAST(GROUPING(c_mktsegment) AS INT) AS g_segment,
           count(*) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                         AS DECIMAL(21,3))) * 1000 AS BIGINT)
               AS revenue_milli
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY CUBE(n_name, c_mktsegment)
    ORDER BY g_nation, g_segment, nation, segment
"""


CF_MIN_ORDERS = 3
CF_TOP_N = 50


def _item_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, n_orders): the number of distinct orders holding
    each part — the item-popularity side of the pair scores."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_orders")))


def item_cooccurrence_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over the basket graph: the
    top part pairs by cosine association n_ab / sqrt(n_a * n_b) —
    co-purchase count normalized by each item's popularity, so
    staple items that co-occur with everything stop dominating (the
    step from copurchase_pairs' raw counts to a usable 'customers
    also bought' score).

    Shape: the _basket_pairs build (one basket shuffle), one
    per-item order-count aggregate joined twice onto the
    |pairs|-sized frame (at 100 TB the item-count table is
    catalog-sized — broadcast), top-N as TakeOrderedAndProject.
    All inputs to the score are exact integers; sqrt/divide is a
    fixed IEEE chain floored at 4dp, ties to the (a, b) key."""
    pairs = (_basket_pairs(read_table(spark, sf_dir, "lineitem")
                           .select("l_orderkey", "l_partkey"), cap=False)
             .groupBy(F.col("pa").alias("part_a"),
                      F.col("pb").alias("part_b"))
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .filter(F.col("n_ab") >= CF_MIN_ORDERS))
    item_counts = _item_order_counts(spark, sf_dir)
    # Although the two broadcast subtrees are written twice, AQE's
    # runtime stage reuse canonicalizes them to one BroadcastExchange
    # (verified round 12: executed final plan carries ReusedExchange;
    # the per-side rename projects do not defeat canonicalization).
    ca = F.broadcast(item_counts.select(
        F.col("l_partkey").alias("part_a"),
        F.col("n_orders").alias("n_a")))
    cb = F.broadcast(item_counts.select(
        F.col("l_partkey").alias("part_b"),
        F.col("n_orders").alias("n_b")))
    score = (F.col("n_ab")
             / F.sqrt(F.col("n_a").cast("double") * F.col("n_b")))
    return (
        pairs.join(ca, "part_a").join(cb, "part_b")
        .select("part_a", "part_b", "n_ab", "n_a", "n_b",
                (F.floor(score * 10000) / 10000).alias("cf_score"))
        .orderBy(F.desc("cf_score"), F.asc("part_a"), F.asc("part_b"))
        .limit(CF_TOP_N)
    )


QUERIES["item_cooccurrence_cf"] = item_cooccurrence_cf

ORACLE_SQL["item_cooccurrence_cf"] = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {CF_MIN_ORDERS}
    ), counts AS (
        SELECT l_partkey, count(*) AS n FROM items GROUP BY 1
    )
    SELECT part_a, part_b, n_ab,
           ca.n AS n_a, cb.n AS n_b,
           floor(n_ab / sqrt(CAST(ca.n AS DOUBLE) * cb.n) * 10000)
               / 10000 AS cf_score
    FROM pairs
    JOIN counts ca ON part_a = ca.l_partkey
    JOIN counts cb ON part_b = cb.l_partkey
    ORDER BY cf_score DESC, part_a ASC, part_b ASC
    LIMIT {CF_TOP_N}
"""


RULES_MIN_ORDERS = 3
RULES_TOP_N = 50


def basket_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket graph: DIRECTIONAL
    part_a -> part_b rules with support, confidence
    (P(b in basket | a in basket)) and lift — the
    if-they-bought-this-stock-that output, where
    item_cooccurrence_cf's symmetric cosine only says 'related'.
    Both directions of every qualifying pair are emitted (confidence
    is asymmetric: printers->ink is strong, ink->printers weak).

    All ratio inputs are exact integers; confidence and lift are
    fixed IEEE chains floored at 4dp, ties broken on the rule key.
    Shape: one basket shuffle (_basket_pairs), the item-count
    table broadcast onto the pair frame twice, top-N as
    TakeOrderedAndProject.

    Round-12 note (optimization guide §1): a single-scan variant —
    persist the basket arrays, derive the basket count from the
    group count and the item counts from an explode of the cached
    arrays — MEASURED SLOWER (1.46s -> 2.12s at sf0.1): the three
    broadcast subtrees (item counts twice, basket count) launch as
    concurrent jobs that race the not-yet-materialized cache, so
    the basket shuffle ran up to 4x instead of 1x. Independent
    cheap columnar scans for the broadcast sides beat a shared
    cache that every broadcast job rebuilds; reverted."""
    n_baskets_row = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey").distinct()
        .agg(F.count(F.lit(1)).alias("__n")))
    pairs = (_basket_pairs(read_table(spark, sf_dir, "lineitem")
                           .select("l_orderkey", "l_partkey"), cap=False)
             .groupBy("pa", "pb")
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .filter(F.col("n_ab") >= RULES_MIN_ORDERS))
    # Both rule directions from the a<b pair table — emitted by an
    # in-row explode, NOT a unionAll of two selects over `pairs`
    # (round 12, guide §2.4): Catalyst cannot share a subtree across
    # union branches in the compiled plan, so the union form carried
    # the whole basket-shuffle + pair-aggregate pipeline twice
    # (static plan: 10 parquet scans / 26 exchanges → 8 / 22; AQE
    # stage reuse could recover the duplicate at runtime, but the
    # narrow explode needs no recovery and plans one subtree always).
    rules = (pairs.select(F.explode(F.array(
        F.struct(F.col("pa").alias("antecedent"),
                 F.col("pb").alias("consequent"), F.col("n_ab")),
        F.struct(F.col("pb").alias("antecedent"),
                 F.col("pa").alias("consequent"), F.col("n_ab")),
    )).alias("r")).select("r.antecedent", "r.consequent", "r.n_ab"))
    item_counts = _item_order_counts(spark, sf_dir)
    # Written as two broadcasts, executed as one: AQE runtime stage
    # reuse (see item_cooccurrence_cf).
    ca = F.broadcast(item_counts.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("n_orders").alias("n_a")))
    cb = F.broadcast(item_counts.select(
        F.col("l_partkey").alias("consequent"),
        F.col("n_orders").alias("n_b")))
    confidence = F.col("n_ab") / F.col("n_a")
    lift = (F.col("n_ab").cast("double") * F.col("__n")
            / F.col("n_a") / F.col("n_b"))
    return (
        rules.join(ca, "antecedent").join(cb, "consequent")
        .crossJoin(F.broadcast(n_baskets_row))
        .select("antecedent", "consequent", "n_ab",
                (F.floor(confidence * 10000) / 10000).alias("confidence"),
                (F.floor(lift * 10000) / 10000).alias("lift"))
        .orderBy(F.desc("confidence"), F.asc("antecedent"),
                 F.asc("consequent"))
        .limit(RULES_TOP_N)
    )


QUERIES["basket_lift_rules"] = basket_lift_rules

ORACLE_SQL["basket_lift_rules"] = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {RULES_MIN_ORDERS}
    ), rules AS (
        SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
        UNION ALL
        SELECT pb, pa, n_ab FROM pairs
    ), counts AS (
        SELECT l_partkey, count(*) AS n FROM items GROUP BY 1
    )
    SELECT antecedent, consequent, n_ab,
           floor(n_ab * 1.0 / ca.n * 10000) / 10000 AS confidence,
           floor(CAST(n_ab AS DOUBLE) * (SELECT n FROM nb)
                 / ca.n / cb.n * 10000) / 10000 AS lift
    FROM rules
    JOIN counts ca ON antecedent = ca.l_partkey
    JOIN counts cb ON consequent = cb.l_partkey
    ORDER BY confidence DESC, antecedent ASC, consequent ASC
    LIMIT {RULES_TOP_N}
"""


TRI_MIN_SUPPORT = 2


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the copurchase graph — the third classic
    graph algorithm alongside PageRank (copurchase_pagerank) and
    connected components (dedup clustering): edge/wedge/triangle
    counts and the global clustering coefficient 3T/W, the
    graph-cohesion score recommender pipelines track as baskets
    evolve.

    Edges are support-thresholded copurchase pairs (_basket_pairs —
    one basket shuffle, a<b canonical, BASKET_CAP bounding any hot
    order), persisted once and reused by all three hops. Triangles
    enumerate each exactly once via the ordering a<b<c: wedge join on
    the middle vertex, closure join on (a, c). At 100 TB the standard hardening is
    degree-ordered orientation before the wedge join (bounds
    per-vertex fan-out by arboricity); the support threshold plays
    that role at catalog scale. Every count is integer-exact; the
    only float is the final ratio, floored 6dp from exact integers
    (deterministic in both engines)."""
    from simpleetlpipeline_spark.cache import track

    edges = track(
        _basket_pairs(read_table(spark, sf_dir, "lineitem")
                      .select("l_orderkey", "l_partkey"), cap=True)
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= TRI_MIN_SUPPORT)
        .select("pa", "pb")
        .persist()
    )
    deg = (edges.select(F.col("pa").alias("node"))
           .unionAll(edges.select(F.col("pb").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"))
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    closing = edges.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tri = (e1.join(e2, F.col("b") == F.col("b2"))
           .join(closing, ["a", "c"], "left_semi")
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    cc = F.when(
        F.col("n_wedges") > 0,
        F.floor(F.lit(3.0) * F.col("n_triangles")
                / F.col("n_wedges") * 1e6) / 1e6)
    return (
        n_edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select("n_edges", "n_wedges", "n_triangles",
                cc.alias("global_clustering"))
    )


QUERIES["copurchase_triangles"] = copurchase_triangles

ORACLE_SQL["copurchase_triangles"] = f"""
    WITH baskets AS (
        SELECT l_orderkey,
               list_slice(list_sort(list(DISTINCT l_partkey)),
                          1, {BASKET_CAP}) AS parts
        FROM lineitem GROUP BY 1
    ), pairs AS (
        SELECT u.pa, u.pb
        FROM (
            SELECT unnest(flatten(list_transform(parts,
                (x, i) -> list_transform(
                    list_slice(parts, i + 1, greatest(len(parts), 0)),
                    y -> struct_pack(pa := x, pb := y))))) AS u
            FROM baskets WHERE len(parts) >= 2
        )
    ), edges AS (
        SELECT pa, pb FROM pairs GROUP BY 1, 2
        HAVING count(*) >= {TRI_MIN_SUPPORT}
    ), deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT pa AS node FROM edges
            UNION ALL SELECT pb FROM edges
        ) GROUP BY 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
               AS n_wedges,
           (SELECT CAST(count(*) AS BIGINT)
            FROM edges e1 JOIN edges e2 ON e1.pb = e2.pa
            JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
               AS n_triangles,
           floor(3.0 * (SELECT count(*)
                        FROM edges e1 JOIN edges e2 ON e1.pb = e2.pa
                        JOIN edges e3 ON e3.pa = e1.pa
                                     AND e3.pb = e2.pb)
                 / (SELECT sum(d * (d - 1) // 2) FROM deg)
                 * 1e6) / 1e6 AS global_clustering
"""


CF_EVAL_CUTOFF = "2000-01-01"
CF_EVAL_NEIGHBORS = 3


def cf_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe recommender evaluation — the harness that turns
    item_cooccurrence_cf from a score table into a measured system:
    TEMPORAL split (train = orders before the cutoff, test = after;
    random splits leak future co-purchases into training), item-item
    association built ONLY from train baskets, each user's
    recommendation set = the top-CF_EVAL_NEIGHBORS associates of their
    train items minus what they already bought, and the metric is
    hit-rate: the share of held-out test purchases (by users with
    train history) present in their recommendation set.

    Every count is integer-exact; neighbor top-k ties break on the
    item id; the single float is the final ratio, floored 6dp from
    exact integers. Shape: one HALF-pair basket explode (each
    unordered pair emitted once, mirrored after the persisted
    aggregate), a SALTED two-phase top-k for neighbors (no per-item
    straggler even under a hot item), user-keyed
    semi/anti joins for the rec set — all linear at any SF. The
    |items| x k neighbor table broadcasts into the rec-set join when
    the part table is small enough (guarded like decontaminate's
    blocklist: past the bound the hint drops and the join shuffles
    on the item key instead of OOMing executors)."""
    from simpleetlpipeline_spark.cache import track
    from simpleetlpipeline_spark.functions.similarity import _table_bytes
    from simpleetlpipeline_spark.operators.aggregates import salted_topk

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    # ONE orders x lineitem join covers both split sides (the naive
    # form runs the fact join twice, once per side of the cutoff);
    # the persisted result feeds the train user-item set, the basket
    # build, and the test side
    all_items = track(
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "l_partkey",
                (F.col("o_orderdate") < ts_lit(CF_EVAL_CUTOFF))
                .alias("is_train"))
        .persist())
    train_items = all_items.filter("is_train")
    # the distinct user-item set itself has three consumers (the
    # rec-set build join, the already-bought anti-join, and the
    # eval-user semi-join) — persist it too so the distinct shuffle
    # runs once, not three times
    train_oi = track(
        train_items.select("o_custkey", "l_partkey").distinct()
        .persist())
    test_oi = (all_items.filter(~F.col("is_train"))
               .select("o_custkey", "l_partkey").distinct())

    # emit each unordered co-purchase pair ONCE (uncapped
    # _basket_pairs, the oracle's a<b self-join), fold the
    # map-side-combined count on the half pairs, PERSIST that tiny
    # aggregate, then mirror it — counts are symmetric. Round 8
    # emitted both directions inside the explode to keep a single
    # aggregate pass; at sf1 the 2x exploded rows were the dominant
    # shuffle (worst linear ratio 7.69), and mirroring the persisted
    # |distinct pairs| aggregate costs a union of counted rows, not a
    # second explode.
    assoc_half = track(
        _basket_pairs(train_items.select("o_orderkey", "l_partkey"),
                      cap=False)
        .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("n_ab"))
        .persist())
    assoc = assoc_half.unionAll(
        assoc_half.select(F.col("pb").alias("pa"),
                          F.col("pa").alias("pb"), "n_ab"))
    # skew-proof neighbor top-k (round-8 verdict task #5): a hot item
    # co-occurring with everything would make the plain per-pa window
    # a straggler; salted_topk ranks within (pa, salt) first, then
    # re-ranks <= k*n_salts survivors. (n_ab desc, pb asc) is a total
    # order within pa, so results are identical to the plain window.
    neighbors = (
        salted_topk(assoc, ["pa"],
                    [F.desc("n_ab"), F.asc("pb")], k=CF_EVAL_NEIGHBORS)
        .select("pa", F.col("pb").alias("rec")))
    # neighbors is <= |items| x k skinny int rows; the part table's
    # on-disk footprint bounds |items|, so gate the broadcast on it
    if _table_bytes(sf_dir, "part") * CF_EVAL_NEIGHBORS <= 256 << 20:
        neighbors = F.broadcast(neighbors)

    recs = (train_oi.join(neighbors,
                          F.col("l_partkey") == F.col("pa"))
            .select("o_custkey", F.col("rec").alias("l_partkey"))
            .distinct()
            .join(train_oi, ["o_custkey", "l_partkey"], "left_anti"))

    # semi-join semantics need no pre-dedup of the right side
    test_eval = test_oi.join(train_oi.select("o_custkey"),
                             "o_custkey", "left_semi")
    # recs is distinct, so a LEFT join preserves test_eval's row
    # count and marks hits — both counters fold in ONE aggregate
    # instead of two separate jobs over the test side
    return (
        test_eval
        .join(recs.withColumn("__hit", F.lit(1)),
              ["o_custkey", "l_partkey"], "left")
        .agg(F.count(F.lit(1)).alias("n_test_purchases"),
             F.count("__hit").alias("n_hits"))
        .select("n_test_purchases", "n_hits",
                (F.floor(F.col("n_hits") / F.col("n_test_purchases")
                         * 1e6) / 1e6).alias("hit_rate"))
    )


QUERIES["cf_holdout_hitrate"] = cf_holdout_hitrate

ORACLE_SQL["cf_holdout_hitrate"] = f"""
    WITH train_orders AS (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderdate < TIMESTAMP '{CF_EVAL_CUTOFF}'
    ), test_orders AS (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '{CF_EVAL_CUTOFF}'
    ), train_oi AS (
        SELECT DISTINCT o_custkey, l_partkey
        FROM train_orders JOIN lineitem ON o_orderkey = l_orderkey
    ), test_oi AS (
        SELECT DISTINCT o_custkey, l_partkey
        FROM test_orders JOIN lineitem ON o_orderkey = l_orderkey
    ), train_pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               count(*) AS n_ab
        FROM (SELECT DISTINCT o_orderkey, l_partkey
              FROM train_orders JOIN lineitem ON o_orderkey = l_orderkey) a
        JOIN (SELECT DISTINCT o_orderkey, l_partkey
              FROM train_orders JOIN lineitem ON o_orderkey = l_orderkey) b
          ON a.o_orderkey = b.o_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ), assoc AS (
        SELECT pa, pb, n_ab FROM train_pairs
        UNION ALL SELECT pb, pa, n_ab FROM train_pairs
    ), neighbors AS (
        SELECT pa, pb AS rec FROM (
            SELECT pa, pb, row_number() OVER (
                PARTITION BY pa ORDER BY n_ab DESC, pb ASC) AS r
            FROM assoc
        ) WHERE r <= {CF_EVAL_NEIGHBORS}
    ), recs AS (
        SELECT DISTINCT t.o_custkey, n.rec AS l_partkey
        FROM train_oi t JOIN neighbors n ON t.l_partkey = n.pa
        WHERE NOT EXISTS (
            SELECT 1 FROM train_oi o
            WHERE o.o_custkey = t.o_custkey AND o.l_partkey = n.rec)
    ), test_eval AS (
        SELECT * FROM test_oi
        WHERE o_custkey IN (SELECT o_custkey FROM train_oi)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM test_eval)
               AS n_test_purchases,
           (SELECT CAST(count(*) AS BIGINT) FROM test_eval te
            WHERE EXISTS (SELECT 1 FROM recs r
                          WHERE r.o_custkey = te.o_custkey
                            AND r.l_partkey = te.l_partkey)) AS n_hits,
           floor((SELECT count(*) FROM test_eval te
                  WHERE EXISTS (SELECT 1 FROM recs r
                                WHERE r.o_custkey = te.o_custkey
                                  AND r.l_partkey = te.l_partkey))
                 * 1.0
                 / (SELECT count(*) FROM test_eval) * 1e6) / 1e6
               AS hit_rate
"""


def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction to latest state — the change-data-capture
    primitive the reference's in-place SQLite UPDATEs (main.py:558-
    571) would become on an append-only lake: a keyed change log is
    compacted to one surviving row per key (latest by sequence), and
    deletes tombstone the key out entirely.

    The events table plays the change log deterministically: key =
    user_id, sequence = (ts, event_id) (event_id is unique, so the
    order is total), op = DELETE when event_type='error' else UPSERT.
    A key whose LATEST entry is a delete is gone; otherwise its
    latest row is the live state. The result rolls the live state up
    by event_type with integer-exact value cents (floor(value*100)
    is the same IEEE double op in both engines before the exact
    BIGINT sum).

    Shape: ONE hash aggregate — max_by(payload, (ts, event_id))
    folds map-side to a single row per key, so the shuffle carries
    |keys| rows, not the log. No window over the raw log (a per-key
    window would sort the whole corpus; argmax folds). That is the
    CDC-compaction plan that survives 100 TB: compaction cost is
    bounded by live-key cardinality, and a routine base⊕delta merge
    (see monthly_sales_incremental) keeps reprocessing incremental.
    """
    log = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    latest = (
        log.groupBy("user_id")
        .agg(F.max_by(F.struct("event_type", "cents"),
                      F.struct("ts", "event_id")).alias("last"))
        .select("user_id", "last.event_type", "last.cents")
    )
    return (
        latest.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_live_keys"),
             F.sum("cents").alias("value_cents"))
        .orderBy("event_type")
    )


QUERIES["cdc_latest_state"] = cdc_latest_state

ORACLE_SQL["cdc_latest_state"] = """
    WITH latest AS (
        SELECT user_id, event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_live_keys,
           CAST(sum(cents) AS BIGINT) AS value_cents
    FROM latest
    WHERE rn = 1 AND event_type <> 'error'
    GROUP BY event_type
    ORDER BY event_type
"""


def fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — the schema-level data-quality
    check the reference's per-column validators (main.py:499-540:
    nulls, ranges, formats) cannot express: does determinant X fix
    dependent Y across the whole table? Four candidate FDs, two that
    hold by construction and two that real data violates:

      nation->region     nation: the dimension hierarchy — every
                         nation sits in exactly one region, so 0
                         violations (roll-ups over it are safe).
      orderkey->custkey  orders: primary key determines custkey —
                         0 violations (key sanity).
      partkey->suppkey   lineitem: each part ships from multiple
                         suppliers — violated on purpose.
      user->event_type   events: users emit many event types —
                         violated on purpose.

    Per FD: distinct determinant count and how many determinants map
    to >1 dependent value. Shape: one map-side-combined hash agg per
    FD (grouped count_distinct partials), then a one-row fold each;
    the union is four tiny rows. At 100 TB you would fuse FDs that
    share a determinant into one agg pass and sample-first to
    prioritize which FDs deserve the exact pass."""
    def _check(df: DataFrame, name: str, key, dep) -> DataFrame:
        return (
            df.select(key.alias("k"), dep.alias("v"))
            .groupBy("k").agg(F.count_distinct("v").alias("nv"))
            .agg(F.lit(name).alias("fd"),
                 F.count(F.lit(1)).alias("n_keys"),
                 F.sum(F.when(F.col("nv") > 1, 1)
                       .otherwise(0)).alias("n_violating_keys"))
        )

    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    events = read_table(spark, sf_dir, "events")
    return (
        _check(nation, "nation->region",
               F.col("n_nationkey"), F.col("n_regionkey"))
        .unionAll(_check(orders, "orderkey->custkey",
                         F.col("o_orderkey"), F.col("o_custkey")))
        .unionAll(_check(lineitem, "partkey->suppkey",
                         F.col("l_partkey"), F.col("l_suppkey")))
        .unionAll(_check(events, "user->event_type",
                         F.col("user_id"), F.col("event_type")))
        .orderBy("fd")
    )


QUERIES["fd_audit"] = fd_audit

ORACLE_SQL["fd_audit"] = """
    WITH checks AS (
        SELECT 'nation->region' AS fd, CAST(n_nationkey AS VARCHAR) AS k,
               CAST(n_regionkey AS VARCHAR) AS v FROM nation
        UNION ALL
        SELECT 'orderkey->custkey', CAST(o_orderkey AS VARCHAR),
               CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'partkey->suppkey', CAST(l_partkey AS VARCHAR),
               CAST(l_suppkey AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'user->event_type', CAST(user_id AS VARCHAR),
               event_type FROM events
    ), per_key AS (
        SELECT fd, k, count(DISTINCT v) AS nv
        FROM checks GROUP BY fd, k
    )
    SELECT fd, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_keys
    FROM per_key GROUP BY fd ORDER BY fd
"""


#: Cohort years for the retention set-op report: the first and last
#: full years in the orders window (explicit timestamp RANGES so the
#: bounds land in PushedFilters — year() would evaluate per row).
RETENTION_YEAR_A = 1995
RETENTION_YEAR_B = 2000


def customer_retention_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buyer-cohort retention via relational set operators: customers
    who ordered in both cohort years (retained = INTERSECT), only the
    first (churned = EXCEPT), or only the second (acquired = reverse
    EXCEPT). INTERSECT/EXCEPT were the one relational-algebra family
    the catalog didn't exercise; Spark plans them as left-semi /
    left-anti joins over the deduped keysets, exactly the shape you
    want at 100 TB (the year filters prune parquet row groups, each
    cohort dedups map-side to |customers| keys, and the semi/anti
    joins shuffle key-only rows).

    Output is the 3-row (cohort, n_customers) report — exact integer
    counts, trivially gate-hashable.

    Each cohort keyset feeds two of the three set-op branches, so
    both are persisted (cache.track-owned): one pruned scan + dedup
    per cohort instead of three."""
    from simpleetlpipeline_spark.cache import track

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate")

    def cohort(year: int):
        return track(orders.filter(
            (F.col("o_orderdate") >= ts_lit(f"{year}-01-01"))
            & (F.col("o_orderdate") < ts_lit(f"{year + 1}-01-01")))
            .select("o_custkey").distinct().persist())

    a, b = cohort(RETENTION_YEAR_A), cohort(RETENTION_YEAR_B)
    counts = [
        a.intersect(b).agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("retained").alias("cohort"), "n"),
        a.exceptAll(b).agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("churned").alias("cohort"), "n"),
        b.exceptAll(a).agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("acquired").alias("cohort"), "n"),
    ]
    out = counts[0].unionByName(counts[1]).unionByName(counts[2])
    return out.select("cohort", F.col("n").cast("bigint")
                      .alias("n_customers")).orderBy("cohort")


QUERIES["customer_retention_set_ops"] = customer_retention_set_ops

ORACLE_SQL["customer_retention_set_ops"] = f"""
    WITH a AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '{RETENTION_YEAR_A}-01-01'
          AND o_orderdate < TIMESTAMP '{RETENTION_YEAR_A + 1}-01-01'
    ), b AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '{RETENTION_YEAR_B}-01-01'
          AND o_orderdate < TIMESTAMP '{RETENTION_YEAR_B + 1}-01-01'
    )
    SELECT 'acquired' AS cohort,
           CAST((SELECT count(*) FROM (SELECT * FROM b EXCEPT
                                       SELECT * FROM a)) AS BIGINT)
               AS n_customers
    UNION ALL
    SELECT 'churned',
           CAST((SELECT count(*) FROM (SELECT * FROM a EXCEPT
                                       SELECT * FROM b)) AS BIGINT)
    UNION ALL
    SELECT 'retained',
           CAST((SELECT count(*) FROM (SELECT * FROM a INTERSECT
                                       SELECT * FROM b)) AS BIGINT)
    ORDER BY cohort
"""


def _sym_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized distinct copurchase edge list (a, b): the capped
    _basket_pairs of each order (one basket shuffle, no orderkey
    self-join), with each a<b pair mirrored by an in-row explode
    before the single distinct. Round-12 rewrite (optimization guide
    §2.4): the previous edges.union(swapped) form duplicated the
    ENTIRE basket-build subtree — Catalyst cannot share a subtree
    across union branches, so the basket shuffle and pair distinct
    ran twice to build the cache. Emitting the mirror pairs before
    the single distinct leaves one basket shuffle + one distinct
    (plan: 2 scans/4 exchanges -> 1 scan/2 exchanges), and
    a<b-distinct ⟺ symmetric-distinct is a bijection, so the edge
    SET is unchanged. Persisted (cache.track-owned) since every
    graph consumer reads it more than once."""
    from simpleetlpipeline_spark.cache import track

    sym = (_basket_pairs(read_table(spark, sf_dir, "lineitem")
                         .select("l_orderkey", "l_partkey"), cap=True)
           .select(F.explode(F.array(
               F.struct(F.col("pa").alias("a"), F.col("pb").alias("b")),
               F.struct(F.col("pb").alias("a"), F.col("pa").alias("b")),
           )).alias("e"))
           .select("e.a", "e.b")
           .distinct())
    return track(sym.persist())


def copurchase_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop BFS reach ("blast radius") of the most-connected part in
    the copurchase graph: which parts are one or two co-purchases
    away from the hub product. Bounded-depth graph traversal was the
    one graph primitive the catalog lacked (pagerank/triangles/CC
    exist); unrolled as per-hop semi/anti joins, the shape an
    iterative BFS takes on any cluster.

    Edges are the shared _sym_copurchase_edges (capped _basket_pairs
    — one basket shuffle, no orderkey self-join — mirrored in-row
    before one distinct). The hub is the max-degree vertex (ties -> min
    partkey), selected as a ONE-ROW broadcast join — no collect.

    Round-12 rewrite (optimization guide §2.4 — remove shuffles
    outright): the hop-set algebra (distinct per frontier + two
    anti-joins against visited) is replaced by ONE min-hop
    aggregation. Seed enters with hop 0, raw hop-1 neighbors with
    hop 1, raw hop-2 neighbors with hop 2; groupBy(part).min(hop)
    then keeps hops 1 and 2 — a vertex reachable at hop 1 can never
    surface as hop 2 (min), and the seed's own row wins at hop 0
    and is filtered, which IS the visited-set exclusion. Plan
    effect: 4 exchanges + 2 broadcast anti-join stages collapse to
    2 exchanges past the edge build (the hop-1 distinct feeding the
    frontier broadcast, and the final min-hop agg; measured 20 ->
    10 jobs, 2.6s -> ~1.2s at sf0.1). Exactly the label-relaxation
    shape an iterative BFS at 100 TB uses (min-label propagation),
    so the local win and the cluster shape coincide.

    Output: (l_partkey, hop) for hops 1 and 2 — exact integers.

    The symmetrized edge list feeds three consumers (degree ranking,
    hop-1 expansion, hop-2 expansion), so it is persisted
    (_sym_copurchase_edges): ONE basket shuffle feeds the whole
    traversal instead of being recomputed per hop."""
    sym = _sym_copurchase_edges(spark, sf_dir)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    seed = (deg.orderBy(F.desc("degree"), F.asc("a")).limit(1)
            .select(F.col("a").alias("seed")))
    hop1 = (sym.join(F.broadcast(seed), sym.a == F.col("seed"))
            .select(F.col("b").alias("part")).distinct())
    raw2 = (sym.join(hop1.withColumnRenamed("part", "f1"),
                     sym.a == F.col("f1"))
            .select(F.col("b").alias("part"), F.lit(2).alias("hop")))
    labeled = (seed.select(F.col("seed").alias("part"),
                           F.lit(0).alias("hop"))
               .unionByName(hop1.select("part", F.lit(1).alias("hop")))
               .unionByName(raw2))
    out = (labeled.groupBy("part").agg(F.min("hop").alias("hop"))
           .filter(F.col("hop") >= 1))
    return (out.select(F.col("part").cast("bigint").alias("l_partkey"),
                       F.col("hop").cast("int").alias("hop"))
            .orderBy("hop", "l_partkey"))


QUERIES["copurchase_khop_reach"] = copurchase_khop_reach

ORACLE_SQL["copurchase_khop_reach"] = f"""
    WITH baskets AS (
        SELECT l_orderkey,
               list_slice(list_sort(list(DISTINCT l_partkey)),
                          1, {BASKET_CAP}) AS parts
        FROM lineitem GROUP BY 1
    ), exploded AS (
        SELECT l_orderkey, unnest(parts) AS p
        FROM baskets WHERE len(parts) >= 2
    ), edges AS (
        SELECT DISTINCT e1.p AS a, e2.p AS b
        FROM exploded e1 JOIN exploded e2 USING (l_orderkey)
        WHERE e1.p < e2.p
    ), sym AS (
        SELECT a, b FROM edges
        UNION ALL
        SELECT b AS a, a AS b FROM edges
    ), seed AS (
        SELECT a AS seed FROM sym GROUP BY a
        ORDER BY count(*) DESC, a ASC LIMIT 1
    ), hop1 AS (
        SELECT DISTINCT b AS part FROM sym, seed WHERE a = seed
    ), hop2 AS (
        SELECT DISTINCT s.b AS part
        FROM sym s JOIN hop1 h ON s.a = h.part
        WHERE s.b NOT IN (SELECT part FROM hop1)
          AND s.b NOT IN (SELECT seed FROM seed)
    )
    SELECT CAST(part AS BIGINT) AS l_partkey, CAST(1 AS INTEGER) AS hop
    FROM hop1
    UNION ALL
    SELECT CAST(part AS BIGINT), CAST(2 AS INTEGER) FROM hop2
    ORDER BY hop, l_partkey
"""


def copurchase_degree_powerlaw(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Power-law fit of the copurchase degree distribution: OLS of
    ln(n_parts_with_degree) on ln(degree) over the degree histogram
    — the scale-free-network diagnostic (a heavy-tailed catalog
    needs hub-aware partitioning; a near-uniform one doesn't). The
    slope is the (negated) power-law exponent; r2 says how
    power-law-like the graph actually is.

    Exactness: degrees and histogram counts are exact integers; each
    histogram point's (ln degree, ln count) is floor-quantized to
    lp7 int64 FIRST, so all five OLS moments are exact DECIMAL(38,0)
    sums of int64 products (fold-order free); slope/intercept/r2
    then derive through one pinned double chain each, floored 6dp
    (the revenue_trend_ols contract on quantized log coordinates).

    Shape: the shared persisted edge list -> one degree agg
    (|parts| groups) -> one histogram agg (|distinct degrees|
    groups) -> a one-row moment aggregate. Nothing after the degree
    agg touches more than |distinct degrees| rows."""
    sym = _sym_copurchase_edges(spark, sf_dir)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_parts"))
    pts = hist.select(
        F.floor(F.log(F.col("degree").cast("double")) * 1e7)
        .cast("long").alias("x"),
        F.floor(F.log(F.col("n_parts").cast("double")) * 1e7)
        .cast("long").alias("y"))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(d38(F.col("x"))).alias("sx"),
        F.sum(d38(F.col("y"))).alias("sy"),
        F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("sxx"),
        F.sum(d38(F.col("x")) * d38(F.col("y"))).alias("sxy"),
        F.sum(d38(F.col("y")) * d38(F.col("y"))).alias("syy"))
    md = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    # lp7 coordinates: slope is unit-free (1e7 cancels); intercept
    # needs the 1e7 scale back out
    slope = (md * sxy - sx * sy) / (md * sxx - sx * sx)
    intercept = ((sy - slope * sx) / md) / 1e7
    r2 = ((md * sxy - sx * sy) * (md * sxy - sx * sy)
          / ((md * sxx - sx * sx) * (md * syy - sy * sy)))
    return m.select(
        F.col("m").cast("bigint").alias("n_degree_points"),
        (F.floor(slope * 1e6) / 1e6).alias("slope"),
        (F.floor(intercept * 1e6) / 1e6).alias("intercept_ln_count"),
        (F.floor(r2 * 1e6) / 1e6).alias("r2"))


QUERIES["copurchase_degree_powerlaw"] = copurchase_degree_powerlaw

ORACLE_SQL["copurchase_degree_powerlaw"] = f"""
    WITH baskets AS (
        SELECT l_orderkey,
               list_slice(list_sort(list(DISTINCT l_partkey)),
                          1, {BASKET_CAP}) AS parts
        FROM lineitem GROUP BY 1
    ), exploded AS (
        SELECT l_orderkey, unnest(parts) AS p
        FROM baskets WHERE len(parts) >= 2
    ), edges AS (
        SELECT DISTINCT e1.p AS a, e2.p AS b
        FROM exploded e1 JOIN exploded e2 USING (l_orderkey)
        WHERE e1.p < e2.p
    ), sym AS (
        SELECT a, b FROM edges
        UNION ALL SELECT b, a FROM edges
    ), hist AS (
        SELECT degree, count(*) AS n_parts FROM (
            SELECT a, count(*) AS degree FROM sym GROUP BY 1
        ) GROUP BY 1
    ), pts AS (
        SELECT CAST(floor(ln(CAST(degree AS DOUBLE)) * 1e7) AS BIGINT)
                   AS x,
               CAST(floor(ln(CAST(n_parts AS DOUBLE)) * 1e7) AS BIGINT)
                   AS y
        FROM hist
    ), mo AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               sum(CAST(x AS DECIMAL(38,0))) AS sx,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy,
               sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy
        FROM pts
    )
    SELECT m AS n_degree_points,
           floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1e6) / 1e6 AS slope,
           floor((CAST(sy AS DOUBLE)
                  - ((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE) / 1e7
                 * 1e6) / 1e6 AS intercept_ln_count,
           floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1e6) / 1e6 AS r2
    FROM mo
"""


#: Relative support floor for triple mining: 3 per-mille of baskets
#: (SF-robust — an absolute count would go vacuous at sf0.001 and
#: trivially-dense at sf1), floored at 2.
TRIPLE_SUPPORT_MILLI = 3
TRIPLE_TOP_N = 25


def brand_triple_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-3 market-basket mining with association-rule scoring —
    the A-priori step above copurchase_pairs/basket_lift_rules' pair
    tier: frequent brand TRIPLES {a,b,c} plus the rule {a,b} -> c
    scored by exact confidence = sup(abc)/sup(ab). Top-N triples by
    support (brand-lexicographic tiebreak).

    Support threshold is RELATIVE (>= TRIPLE_SUPPORT_MILLI per-mille of
    baskets, floored at 2): an absolute floor is meaningless across
    scale factors, and the per-mille form is the same number the
    rule consumer reasons about.

    Exactness: supports are integers; the threshold is an exact
    BIGINT div of the basket count; confidence is an exact integer
    micro-ratio (sup*1e6 div pair_sup). No floats anywhere.

    Shape & scale (round-12 rewrite, optimization guide §2.3/§2.4):
    ONE basket shuffle builds the per-order sorted distinct brand
    array (collect_set dedupes inside the aggregate, so no separate
    distinct pass), persisted once; pairs and triples then
    enumerate IN-ARRAY (ordered_pairs, the triples extending each
    pair by the later elements — the posting-list trick lifted to
    level 3) as
    narrow maps over the cached baskets, each followed by one hash
    agg over the <=|brands|^3 candidate space. The previous form
    shuffled the (order, brand) item table three times through a
    3-way self-join on the order key and twice more for the
    pair-support join; all of that collapses into the single basket
    exchange. The brand domain caps per-basket fan-out at
    C(|brands|,3); with an unbounded item domain this is where the
    A-priori frequent-pair prune would gate candidate generation.
    The pair-support table is <=C(|brands|,2) rows — broadcast
    joined. Final top-N is TakeOrderedAndProject."""
    from simpleetlpipeline_spark.cache import track

    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = track(
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(F.broadcast(part),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .persist())
    n_baskets = baskets.agg(F.count(F.lit(1)).alias("__nb"))
    min_sup = F.greatest(
        F.lit(2), F.expr(f"__nb * {TRIPLE_SUPPORT_MILLI} div 1000"))
    bs = F.col("bs")
    pair_structs = ordered_pairs(
        bs, lambda x, y: F.struct(x.alias("brand_a"), y.alias("brand_b")))
    # each pair (x, y) extends by every z after y — in a sorted
    # distinct array, exactly the elements greater than y
    triple_structs = F.flatten(ordered_pairs(
        bs, lambda x, y: F.transform(
            F.filter(bs, lambda z: z > y),
            lambda z: F.struct(x.alias("brand_a"), y.alias("brand_b"),
                               z.alias("brand_c")))))
    triples = (
        baskets.select(F.explode(triple_structs).alias("t"))
        .select("t.brand_a", "t.brand_b", "t.brand_c")
        .groupBy("brand_a", "brand_b", "brand_c")
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(n_baskets))
        .filter(F.col("support") >= min_sup)
    )
    pair_sup = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("pair_support"))
    )
    return (
        triples.join(F.broadcast(pair_sup), ["brand_a", "brand_b"])
        .select(
            "brand_a", "brand_b", "brand_c",
            F.col("support").cast("long").alias("support"),
            F.col("pair_support").cast("long").alias("pair_support"),
            F.expr("support * 1000000 div pair_support")
            .cast("long").alias("confidence_micro"),
            F.expr(f"support * 1000000 div __nb")
            .cast("long").alias("support_rate_micro"))
        .orderBy(F.desc("support"), F.asc("brand_a"),
                 F.asc("brand_b"), F.asc("brand_c"))
        .limit(TRIPLE_TOP_N)
    )


QUERIES["brand_triple_rules"] = brand_triple_rules

ORACLE_SQL["brand_triple_rules"] = f"""
    WITH items AS (
        SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS br
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), nb AS (
        SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM items
    ), triples AS (
        SELECT a.br AS brand_a, b.br AS brand_b, c.br AS brand_c,
               CAST(count(*) AS BIGINT) AS support
        FROM items a
        JOIN items b ON a.o = b.o AND a.br < b.br
        JOIN items c ON b.o = c.o AND b.br < c.br
        GROUP BY 1, 2, 3
    ), pairs AS (
        SELECT a.br AS brand_a, b.br AS brand_b,
               CAST(count(*) AS BIGINT) AS pair_support
        FROM items a
        JOIN items b ON a.o = b.o AND a.br < b.br
        GROUP BY 1, 2
    )
    SELECT t.brand_a, t.brand_b, t.brand_c, t.support, p.pair_support,
           t.support * 1000000 // p.pair_support AS confidence_micro,
           t.support * 1000000 // nb.n_baskets AS support_rate_micro
    FROM triples t
    JOIN pairs p USING (brand_a, brand_b)
    CROSS JOIN nb
    WHERE t.support >= greatest(2, nb.n_baskets
                                   * {TRIPLE_SUPPORT_MILLI} // 1000)
    ORDER BY t.support DESC, t.brand_a, t.brand_b, t.brand_c
    LIMIT {TRIPLE_TOP_N}
"""


TRIGRAM_TOP_N = 30


def frequent_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order sequence mining: the top contiguous THREE-event
    paths per user (the PrefixSpan-lite depth user_path_transitions'
    first-order matrix can't see — 'view->view->purchase' and
    'purchase->view->view' are the same two transition matrices but
    opposite behaviors), with the second-order conditional
    p(t3 | t1,t2) attached: the trigram count over its (t1,t2)
    prefix-bigram count, both exact integers.

    Plan: ONE shuffle keyed by user orders each user's bounded event
    sequence (two lag() windows share the sort), one hash agg to the
    <=|types|^3 trigram table; the |types|^2 prefix-bigram table then
    DERIVES from the trigram table (every seq row lands in exactly
    one trigram group, so sum(n_trigrams) over (t1,t2) == the prefix
    count) — the corpus is scanned and window-sorted exactly once,
    with no persist needed (ADVICE r7 flagged the previous
    two-consumer lineage). Broadcast prefix join, TakeOrdered top-N.
    Conditional probability is one deterministic division floored
    4dp (the user_path_transitions contract).
    """
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (events
           .withColumn("t2", F.lag("event_type", 1).over(w))
           .withColumn("t1", F.lag("event_type", 2).over(w))
           .filter(F.col("t1").isNotNull()))
    from simpleetlpipeline_spark.cache import track

    # tri feeds BOTH the join probe and the derived prefix table —
    # persist the <=|types|^3 aggregate so the corpus scan + per-user
    # window sort behind it run exactly once.
    tri = track(
        seq.groupBy("t1", "t2", F.col("event_type").alias("t3"))
        .agg(F.count(F.lit(1)).alias("n_trigrams"))
        .persist())
    bi = (tri.groupBy("t1", "t2")
          .agg(F.sum("n_trigrams").alias("n_prefix")))
    cond = F.col("n_trigrams") / F.col("n_prefix") * 10000
    return (tri.join(F.broadcast(bi), ["t1", "t2"])
            .select("t1", "t2", "t3",
                    F.col("n_trigrams").cast("long").alias("n_trigrams"),
                    F.col("n_prefix").cast("long").alias("n_prefix"),
                    (F.floor(cond) / 10000).alias("cond_prob"))
            .orderBy(F.desc("n_trigrams"), F.asc("t1"), F.asc("t2"),
                     F.asc("t3"))
            .limit(TRIGRAM_TOP_N))


QUERIES["frequent_event_trigrams"] = frequent_event_trigrams

ORACLE_SQL["frequent_event_trigrams"] = f"""
    WITH seq AS (
        SELECT lag(event_type, 2) OVER w AS t1,
               lag(event_type, 1) OVER w AS t2,
               event_type AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT * FROM seq WHERE t1 IS NOT NULL
    ), tri AS (
        SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_trigrams
        FROM s GROUP BY 1, 2, 3
    ), bi AS (
        SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_prefix
        FROM s GROUP BY 1, 2
    )
    SELECT t1, t2, t3, n_trigrams, n_prefix,
           floor(CAST(n_trigrams AS DOUBLE) / n_prefix * 10000)
               / 10000 AS cond_prob
    FROM tri JOIN bi USING (t1, t2)
    ORDER BY n_trigrams DESC, t1, t2, t3
    LIMIT {TRIGRAM_TOP_N}
"""
