"""Window-function and as-of-join analytics.

The reference has no window functions or temporal joins (SURVEY.md
§2.5 'No ... window functions ... exist in the reference'; §2.4 'No
... as-of joins'), but both are table stakes for an analytics engine
a reference user would migrate to — per-group ranking is the general
form of the reference's ORDER BY + LIMIT top-k (A3), and as-of joins
are the standard event-to-latest-state lookup in event pipelines.
All three queries here are DuckDB-oracle-checked (DuckDB has native
window functions and ASOF JOIN, so the oracles are first-class SQL).

Scale notes:
- customer_order_ranks: one shuffle keyed by customer; per-key groups
  are order counts per customer (bounded), so no skewed reducer.
- monthly_revenue_running: aggregates THEN windows — the global
  (unpartitioned) running window runs on the ~tens-of-rows monthly
  rollup, never on raw orders, so the single-partition window stage
  is O(months) at any corpus size.
- events_asof_purchase: implemented as union + last(ignorenulls)
  over a per-user ordered window (the partition-merge as-of
  algorithm): ONE shuffle of events+purchases keyed by user, no
  row-explosion — unlike the naive join-filter-argmax which builds
  every (event, earlier-purchase) pair before reducing.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simpleetlpipeline_spark.io import read_table
from simpleetlpipeline_spark.operators.dates import (
    day_lit,
    epoch_day,
    hour_bucket,
    epoch_date,
    hour_of,
    label_of_month_start,
    month_label,
    month_start,
    sql_epoch_day,
    sql_month_start,
    ts_lit,
    week_start,
)
from simpleetlpipeline_spark.plans.analytics import COMPLETED


ORDER_RANK_K = 3


def customer_order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-ORDER_RANK_K orders per customer by value: row_number() over a
    per-customer window — the grouped generalization of the
    reference's global ORDER BY ... LIMIT top-k (main.py:672-685)."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("order_rank", F.row_number().over(w))
        .filter(F.col("order_rank") <= ORDER_RANK_K)
        .select("o_custkey", "o_orderkey", "order_rank", "o_totalprice")
    )


def monthly_revenue_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with cumulative total and 3-month moving
    average (running/frame windows over the A1 monthly rollup).

    Rounding contract: monthly revenue is round()ed BEFORE the
    running sums, so both engines fold the identical 2-decimal
    doubles in the identical (month-ordered) sequence — bit-equal
    accumulations, stable under the final round(2).
    """
    orders = read_table(spark, sf_dir, "orders")
    # hot-path pattern (dates.month_label contract): bucket rows by
    # the pure-DATE month_start, render the label on the aggregated
    # |months| frame only
    monthly = (
        orders.filter(F.col("o_orderstatus") == COMPLETED)
        .groupBy(month_start("o_orderdate").alias("__m"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    w_run = Window.orderBy("__m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_mov3 = Window.orderBy("__m").rowsBetween(-2, Window.currentRow)
    return monthly.select(
        label_of_month_start("__m").alias("month"), "revenue", "n_orders",
        F.round(F.sum("revenue").over(w_run), 2).alias("running_revenue"),
        F.round(F.avg("revenue").over(w_mov3), 2).alias("mov3_revenue"),
    )


def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the same user's most recent
    STRICTLY-EARLIER purchase event.

    Spark has no ASOF JOIN operator; the scalable re-expression is
    the partition-merge trick: union both sides tagged, sort within
    each user by (ts, tag) — purchases sort AFTER events at equal ts,
    giving strict '<' semantics — and carry the latest purchase
    payload forward with last(ignorenulls) over a running window.
    Purchases are first reduced to one row per (user, ts) (max
    event_id) so the match is deterministic. Inner semantics: events
    with no prior purchase are dropped, mirroring DuckDB ASOF JOIN.
    """
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_event_id"))
        .select("user_id", "ts", F.lit(1).alias("tag"),
                F.struct(F.col("ts").alias("p_ts"),
                         "purchase_event_id").alias("p"))
    )
    left = events.select(
        "user_id", "ts", F.lit(0).alias("tag"),
        F.lit(None).cast(purchases.schema["p"].dataType).alias("p"),
        "event_id", "event_type")
    merged = purchases.select(
        "user_id", "ts", "tag", "p",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("event_type"),
    ).unionByName(left)
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "tag", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        merged.withColumn("asof", F.last("p", ignorenulls=True).over(w))
        .filter((F.col("tag") == 0) & F.col("asof").isNotNull())
        .select(
            "event_id", "user_id", "event_type",
            F.col("asof.purchase_event_id").alias("purchase_event_id"),
            (F.unix_micros("ts") - F.unix_micros("asof.p_ts"))
            .alias("micros_since_purchase"),
        )
    )


PERCENTILES = (0.25, 0.5, 0.75, 0.9)


def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of order value per
    status (the reference has no percentile surface at all; DuckDB's
    quantile_cont is the oracle). Uses Spark's exact percentile()
    aggregate — one shuffle of |status| groups; at 100 TB the
    approximate path is percentile_approx/approx_count_distinct-style
    sketches (see test_approx_reach_close_to_exact), but those are
    engine-specific and can't be value-hash-oracled, so the catalog
    entry is the exact form. Both engines interpolate a + f*(b-a)
    over the identically-sorted doubles, so values are bit-equal;
    floored to 4dp (division-derived, far from .xx5 boundaries).
    """
    orders = read_table(spark, sf_dir, "orders")
    pct = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.array(*[F.lit(p) for p in PERCENTILES]))
        .alias("q"))
    return (
        pct.select(
            "o_orderstatus",
            F.posexplode("q").alias("pos", "qv"))
        .select(
            "o_orderstatus",
            F.element_at(F.array(*[F.lit(p) for p in PERCENTILES]),
                         F.col("pos") + 1).alias("pctile"),
            (F.floor(F.col("qv") * 10000) / 10000).alias("order_value"))
    )


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (status, priority): per-pair,
    per-status subtotal, and grand-total rows in ONE pass (partial
    aggregation covers all grouping sets map-side; without ROLLUP
    this is three scans). grouping_id() disambiguates the NULL
    placeholder rows exactly as DuckDB's GROUPING()."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("int").alias("gid"),
             F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_value"))
        .select("o_orderstatus", "o_orderpriority", "gid",
                "n_orders", "total_value")
    )


CONVERSION_WINDOW_SECS = 4 * 3600  # sparse test events: ~1/user/10h


def events_conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: (view, purchase) pairs for the same user with
    0 < purchase_ts - view_ts <= CONVERSION_WINDOW_SECS.

    A naive user-equi-join computes every (view, purchase) pair per
    user before filtering — quadratic in per-user activity, and one
    hot user melts a reducer. This version blocks by time bucket of
    width CONVERSION_WINDOW_SECS: a qualifying pair's purchase lands in the
    view's bucket or the next one, so each view joins exactly two
    (user, bucket) keys. Shuffle volume is 2x events, per-key groups
    are bounded by per-bucket activity, and the same blocking works
    at any corpus size. DuckDB oracle is the plain inequality join
    (its optimizer plans an IEJoin — the single-node luxury).
    """
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type")
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id", F.col("ts").alias("view_ts"),
        F.floor(F.unix_micros("ts") / (CONVERSION_WINDOW_SECS * 1_000_000))
        .alias("bucket"))
    views = views.withColumn(
        "bucket", F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id", F.col("ts").alias("purchase_ts"),
        F.floor(F.unix_micros("ts") / (CONVERSION_WINDOW_SECS * 1_000_000))
        .alias("bucket"))
    delta = F.unix_micros("purchase_ts") - F.unix_micros("view_ts")
    return (
        views.join(purchases, ["user_id", "bucket"])
        .filter((delta > 0) & (delta <= CONVERSION_WINDOW_SECS * 1_000_000))
        .select("user_id", "view_event_id", "purchase_event_id",
                delta.alias("micros_to_purchase"))
        .dropDuplicates(["view_event_id", "purchase_event_id"])
    )


def repeat_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent from the reference, SURVEY.md §2.4):
    customers with BOTH fulfilled and open orders (INTERSECT), minus
    any with a 'P' order (EXCEPT). Spark plans these as aggregates/
    anti-joins over pre-filtered key projections — each leg pushes
    its status filter to the scan and shuffles only distinct keys."""
    orders = read_table(spark, sf_dir, "orders")
    keys = lambda s: orders.filter(  # noqa: E731
        F.col("o_orderstatus") == s).select("o_custkey")
    return (
        keys("F").intersect(keys("O")).subtract(keys("P"))
        .select("o_custkey")
    )


NATION_REGION = "EUROPE"


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table star: revenue from fulfilled orders
    where the supplier is in the customer's nation, by nation, for
    one region — the multi-dimension join the reference never needed
    (its star had two dims) but any analytics migration will.

    Plan shape at scale: region/nation/supplier/customer are
    broadcast (region filter prunes nation -> supplier/customer
    shrink before broadcast); the only shuffled join is
    lineitem⋈orders on orderkey, and the final agg is |nations|
    groups with map-side partials. Filters (r_name, o_orderstatus)
    push to the scans.
    """
    nations = (
        read_table(spark, sf_dir, "nation")
        .join(F.broadcast(read_table(spark, sf_dir, "region")
                          .filter(F.col("r_name") == NATION_REGION)),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    supplier = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == COMPLETED)
        .select("o_orderkey", "o_custkey")
    )
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    return (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier),
              (lineitem.l_suppkey == supplier.s_suppkey)
              & (customer.c_nationkey == supplier.s_nationkey))
        .join(F.broadcast(nations),
              supplier.s_nationkey == nations.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab: events per day x event_type as one pivoted row per
    day. The type list is passed explicitly so Spark skips the extra
    distinct-values job and the plan is a single hash aggregate
    (pivot with known values = groupBy day, one conditional count
    per type, map-side partials — no second shuffle). Oracle is the
    ANSI conditional-aggregation spelling."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.select(epoch_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


QUERIES = {
    "events_pivot_daily": events_pivot_daily,
    "revenue_by_nation": revenue_by_nation,
    "events_conversion_window": events_conversion_window,
    "repeat_status_customers": repeat_status_customers,
    "order_value_percentiles": order_value_percentiles,
    "sales_rollup": sales_rollup,
    "customer_order_ranks": customer_order_ranks,
    "monthly_revenue_running": monthly_revenue_running,
    "events_asof_purchase": events_asof_purchase,
}

ORACLE_SQL = {
    "events_pivot_daily": """
        SELECT CAST(ts AS DATE) AS day,
               count(*) FILTER (event_type = 'click')    AS click,
               count(*) FILTER (event_type = 'error')    AS error,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup')   AS signup,
               count(*) FILTER (event_type = 'view')     AS view
        FROM events
        GROUP BY 1
    """,
    "revenue_by_nation": f"""
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                   AS revenue,
               count(*) AS n_lineitems
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = '{NATION_REGION}' AND o.o_orderstatus = 'F'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name ASC
    """,
    "events_conversion_window": f"""
        SELECT v.user_id,
               v.event_id AS view_event_id,
               p.event_id AS purchase_event_id,
               epoch_us(p.ts) - epoch_us(v.ts) AS micros_to_purchase
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id
         AND p.ts > v.ts
         AND epoch_us(p.ts) - epoch_us(v.ts) <= {CONVERSION_WINDOW_SECS * 1_000_000}
    """,
    "repeat_status_customers": """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    "order_value_percentiles": "\nUNION ALL\n".join(
        f"""
        SELECT o_orderstatus, CAST({p} AS DOUBLE) AS pctile,
               floor(quantile_cont(o_totalprice, {p}) * 10000) / 10000
                   AS order_value
        FROM orders GROUP BY o_orderstatus
        """ for p in PERCENTILES),
    "sales_rollup": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_value
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "customer_order_ranks": f"""
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT)
                   AS order_rank,
               o_totalprice
        FROM orders
        QUALIFY order_rank <= {ORDER_RANK_K}
    """,
    "monthly_revenue_running": """
        WITH m AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders
            WHERE o_orderstatus = 'F'
            GROUP BY 1
        )
        SELECT month, revenue, n_orders,
               round(sum(revenue) OVER (
                   ORDER BY month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_revenue,
               round(avg(revenue) OVER (
                   ORDER BY month
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
                   AS mov3_revenue
        FROM m
    """,
    "events_asof_purchase": """
        WITH p AS (
            SELECT user_id, ts,
                   max(event_id) AS purchase_event_id
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, e.event_type,
               p.purchase_event_id,
               epoch_us(e.ts) - epoch_us(p.ts) AS micros_since_purchase
        FROM events e
        ASOF JOIN p ON e.user_id = p.user_id AND e.ts > p.ts
    """,
}


ANOMALY_Z = 3.0


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection over event values — the
    telemetry anomaly scan a monitoring pipeline runs after rollups.

    Shape: one hash aggregate for per-type (mean, sample stddev) —
    |event_type| rows — broadcast back across the stream, then a
    narrow filter. No window over the raw events (a per-type window
    partition would funnel each type through one reducer at scale;
    the agg+broadcast-join form is two scans and zero wide state).
    z is floored to 4dp in both engines for stable comparison.
    """
    from simpleetlpipeline_spark.io import read_table

    events = read_table(spark, sf_dir, "events")
    stats = (events.groupBy("event_type")
             .agg(F.avg("value").alias("__mean"),
                  F.stddev_samp("value").alias("__std")))
    z = (F.col("value") - F.col("__mean")) / F.col("__std")
    return (
        events.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) >= ANOMALY_Z)
        .select("event_id", "event_type", "value",
                (F.floor(z * 10000) / 10000).alias("z_score"))
    )


QUERIES["events_anomaly"] = events_anomaly

ORACLE_SQL["events_anomaly"] = f"""
    WITH s AS (
        SELECT event_type,
               avg(value) AS m,
               stddev_samp(value) AS sd
        FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           floor((e.value - s.m) / s.sd * 10000) / 10000 AS z_score
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.m) / s.sd) >= {ANOMALY_Z}
"""


FUZZY_MAX_LEV = 2


def fuzzy_name_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string-match self-join over part names: for every
    part, how many other parts sit within Levenshtein distance
    FUZZY_MAX_LEV, and the deterministic nearest one (min distance, ties
    to the lower key) — the entity-resolution shape (candidate
    blocking -> cheap prefilter -> exact edit distance -> per-entity
    aggregate).

    Round-9 rewrite (r8 verdict task #6): edit distance depends only
    on the NAME, so the pair join runs on DISTINCT names and the
    per-row answer is reassembled algebraically — an exact rewrite,
    not an approximation:

    - same-name neighbors: every other row of my name, lev 0; count
      = cnt-1, nearest = the name's min id (or 2nd-min when I AM the
      min). Different names have lev >= 1, so lev-0 always wins.
    - other-name neighbors: for a qualifying name pair (same block,
      |len diff| <= FUZZY_MAX_LEV, lev <= FUZZY_MAX_LEV) EVERY row of
      the other name is a neighbor at the same lev -> count = sum(cnt), and
      the (lev, id)-min over its rows is (lev, its min id).

    The round-5 form self-joined ROWS within blocks: with a small
    name vocabulary the block fan-out is quadratic in duplication
    (sf1's 10x upsample repeats names verbatim -> 625M levenshtein
    calls; measured >10min, and the quadratic DuckDB oracle was one
    of the three documented sf1 sweep skips). Name-level work is
    |distinct names|^2 within block, INDEPENDENT of row count — the
    collapse-identical-strings-first move every entity-resolution
    pipeline makes at 100 TB. All name-level frames (vocabulary-
    sized) broadcast onto the row scan; two linear passes total.
    """
    from simpleetlpipeline_spark.io import read_table

    parts = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name",
        F.split("p_name", " ")[0].alias("blk"),
        F.length("p_name").alias("ln"))
    m1 = parts.groupBy("p_name", "blk", "ln").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("p_partkey").alias("min_id"))
    # 2nd-smallest id per name (nearest for the row that IS min_id):
    # one more linear pass, min over ids above the per-name min
    min2 = (parts.join(F.broadcast(m1.select("p_name", "min_id")),
                       "p_name")
            .filter(F.col("p_partkey") > F.col("min_id"))
            .groupBy("p_name")
            .agg(F.min("p_partkey").alias("min2_id")))
    names = m1.join(min2, "p_name", "left")

    a = names.select(F.col("p_name").alias("a_name"), "blk",
                     F.col("ln").alias("a_ln"))
    b = names.select(F.col("p_name").alias("b_name"), "blk",
                     F.col("ln").alias("b_ln"),
                     F.col("cnt").alias("b_cnt"),
                     F.col("min_id").alias("b_min"))
    npairs = (
        a.join(b, "blk")
        .filter((F.col("a_name") != F.col("b_name"))
                & (F.abs(F.col("a_ln") - F.col("b_ln")) <= FUZZY_MAX_LEV))
        .withColumn("lev", F.levenshtein("a_name", "b_name"))
        .filter(F.col("lev") <= FUZZY_MAX_LEV)
    )
    other = npairs.groupBy("a_name").agg(
        F.sum("b_cnt").alias("n_other"),
        F.min(F.struct(F.col("lev"), F.col("b_min").alias("b_id")))
        .alias("best_other"))

    enriched = names.join(other,
                          names["p_name"] == other["a_name"], "left")
    same_best_id = F.when(
        F.col("p_partkey") == F.col("min_id"), F.col("min2_id")
    ).otherwise(F.col("min_id"))
    return (
        parts.select("p_partkey", "p_name")
        .join(F.broadcast(enriched.select(
            "p_name", "cnt", "min_id", "min2_id", "n_other",
            "best_other")), "p_name")
        .select(
            "p_partkey",
            (F.col("cnt") - 1 + F.coalesce("n_other", F.lit(0)))
            .alias("n_neighbors"),
            F.when(F.col("cnt") > 1, F.lit(0))
            .otherwise(F.coalesce(F.col("best_other.lev"), F.lit(-1)))
            .cast("int").alias("best_lev"),
            F.when(F.col("cnt") > 1, same_best_id)
            .otherwise(F.coalesce(F.col("best_other.b_id"), F.lit(-1)))
            .alias("nearest_id"),
        )
    )


QUERIES["fuzzy_name_neighbors"] = fuzzy_name_neighbors

# Name-level oracle twin of the round-9 rewrite: the same exact
# algebra (see the docstring), linear in row count so the sf1 sweep
# covers this entry too (previously one of the three documented
# quadratic-oracle skips). Parity with the round-5 row-level
# quadratic form is pinned by tests/test_plans.py::
# test_fuzzy_name_level_equals_row_level.
ORACLE_SQL["fuzzy_name_neighbors"] = f"""
    WITH p AS (
        SELECT p_partkey, p_name,
               string_split(p_name, ' ')[1] AS blk,
               length(p_name) AS ln
        FROM part
    ), names AS (
        SELECT p_name, blk, ln, count(*) AS cnt,
               min(p_partkey) AS min_id
        FROM p GROUP BY 1, 2, 3
    ), min2 AS (
        SELECT p.p_name, min(p.p_partkey) AS min2_id
        FROM p JOIN names n USING (p_name)
        WHERE p.p_partkey > n.min_id
        GROUP BY 1
    ), npairs AS (
        SELECT a.p_name AS a_name,
               levenshtein(a.p_name, b.p_name) AS lev,
               b.cnt AS b_cnt, b.min_id AS b_min
        FROM names a JOIN names b
          ON a.blk = b.blk AND a.p_name != b.p_name
        WHERE abs(a.ln - b.ln) <= {FUZZY_MAX_LEV}
          AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_LEV}
    ), other AS (
        SELECT a_name, sum(b_cnt) AS n_other,
               min(struct_pack(lev := lev, b_id := b_min)) AS best
        FROM npairs GROUP BY 1
    )
    SELECT p.p_partkey,
           CAST(n.cnt - 1 + coalesce(o.n_other, 0) AS BIGINT)
               AS n_neighbors,
           CAST(CASE WHEN n.cnt > 1 THEN 0
                     ELSE coalesce(o.best.lev, -1) END AS INTEGER)
               AS best_lev,
           CAST(CASE WHEN n.cnt > 1 THEN
                         CASE WHEN p.p_partkey = n.min_id
                              THEN m2.min2_id ELSE n.min_id END
                     ELSE coalesce(o.best.b_id, -1) END AS BIGINT)
               AS nearest_id
    FROM p
    JOIN names n USING (p_name)
    LEFT JOIN min2 m2 USING (p_name)
    LEFT JOIN other o ON o.a_name = p.p_name
"""


#: Fixed bucket count for the value histogram.
HIST_BUCKETS = 20


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of event values per event type — the
    distribution profile behind any monitoring chart or data-quality
    drift check.

    Two-pass shape that scales: pass 1 is a per-type (min, max)
    aggregate (|types| rows, broadcast back); pass 2 buckets each
    value with pure arithmetic and hash-aggregates (type, bucket).
    No sort, no window, no driver loop; both shuffles are tiny-keyed
    and map-side combined. The max value clamps into the last bucket
    (floor((v-min)/w) == n for v == max).
    """
    from simpleetlpipeline_spark.io import read_table

    events = read_table(spark, sf_dir, "events")
    rng = (events.groupBy("event_type")
           .agg(F.min("value").alias("__lo"), F.max("value").alias("__hi")))
    width = (F.col("__hi") - F.col("__lo")) / HIST_BUCKETS
    # Constant-valued type: width would be 0 and 0.0/0.0 is
    # engine-dependent (NaN vs NULL); a guarded width puts every row
    # in bucket 0 in both engines by construction (v - lo = 0).
    safe_width = F.when(width == 0, F.lit(1.0)).otherwise(width)
    bucket = F.least(
        F.lit(HIST_BUCKETS - 1),
        F.floor((F.col("value") - F.col("__lo")) / safe_width).cast("int"))
    return (
        events.join(F.broadcast(rng), "event_type")
        .select("event_type", bucket.alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.floor(F.min("value") * 100) / 100).alias("bucket_min"),
             (F.floor(F.max("value") * 100) / 100).alias("bucket_max"))
    )


QUERIES["events_value_histogram"] = events_value_histogram

ORACLE_SQL["events_value_histogram"] = f"""
    WITH r AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM events GROUP BY 1
    ), b AS (
        SELECT e.event_type,
               CAST(least({HIST_BUCKETS} - 1,
                    floor((e.value - r.lo)
                          / (CASE WHEN r.hi = r.lo THEN 1.0
                             ELSE (r.hi - r.lo) / {HIST_BUCKETS} END)))
                    AS INTEGER)
                   AS bucket,
               e.value
        FROM events e JOIN r USING (event_type)
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           floor(min(value) * 100) / 100 AS bucket_min,
           floor(max(value) * 100) / 100 AS bucket_max
    FROM b
    GROUP BY 1, 2
"""


#: Pricing-summary cutoff (TPC-H Q1's DATE '1998-12-01' - 90 days
#: analog for the testdata's 1995-2001 shipdate range).
PRICING_CUTOFF = "2001-09-01"


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: per
    (returnflag, linestatus), quantity/price/discounted/charged sums
    and averages for rows shipped before the cutoff.

    The canonical scan-heavy aggregate: one pass, six groups, every
    measure a map-side partial — the query whole-stage codegen and
    parquet pushdown exist for. The shipdate predicate reaches the
    scan (PushedFilters); sums are rounded to 2dp in both engines.
    """
    from simpleetlpipeline_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= ts_lit(PRICING_CUTOFF))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


QUERIES["pricing_summary"] = pricing_summary

ORACLE_SQL["pricing_summary"] = f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)
               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF} 00:00:00'
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis of events.event_type (the catalog's worked
    example of operators/aggregates.key_skew_report): top keys by row
    share plus cumulative share — the numbers that decide between a
    plain groupBy, salting, and AQE skew handling.

    NOTE: the ranking window is a deliberate exception to the
    'no single-reducer windows' rule — it runs over the per-KEY count
    table (cardinality of the key, already reduced), not the raw rows.
    """
    from simpleetlpipeline_spark.io import read_table
    from simpleetlpipeline_spark.operators.aggregates import key_skew_report

    return key_skew_report(read_table(spark, sf_dir, "events"), "event_type")


QUERIES["events_key_skew"] = events_key_skew

ORACLE_SQL["events_key_skew"] = """
    WITH c AS (
        SELECT event_type AS key, count(*) AS n_rows FROM events GROUP BY 1
    ), t AS (SELECT sum(n_rows) AS tot FROM c)
    SELECT key,
           CAST(row_number() OVER w AS INT) AS rank,
           CAST(n_rows AS BIGINT) AS n_rows,
           floor(n_rows * 1000000.0 / tot) / 1000000 AS share,
           floor(sum(n_rows) OVER w * 1000000.0 / tot) / 1000000
               AS cum_share
    FROM c CROSS JOIN t
    WINDOW w AS (ORDER BY n_rows DESC, key ASC ROWS UNBOUNDED PRECEDING)
    QUALIFY rank <= 10
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel: users who viewed, then
    clicked AFTER their first view, then purchased AFTER that first
    qualifying click. The product-analytics staple that needs
    sequential (not just co-occurrence) semantics.

    Shape: three stage aggregates, each a map-side-combined min over
    a filtered scan, chained by equi-joins on user_id — every stage's
    cardinality is |users|, never |events|, and nothing sorts raw
    events. Emits one row of funnel counts (integer-exact).
    """
    from simpleetlpipeline_spark.io import read_table

    events = read_table(spark, sf_dir, "events")
    views = (events.filter(F.col("event_type") == "view")
             .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    clicks = (
        events.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("c_ts"))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("p_ts"))
    )
    # all four counts stay IN the plan (single-row aggregates cross-
    # joined) — no driver-side action at construction time, which the
    # no-jobs-on-construction plan test enforces for every batch query
    return (
        events.agg(F.count_distinct("user_id").alias("n_users"))
        .crossJoin(views.agg(F.count(F.lit(1)).alias("n_viewed")))
        .crossJoin(clicks.agg(
            F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(purchases.agg(
            F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


QUERIES["events_funnel"] = events_funnel

ORACLE_SQL["events_funnel"] = """
    WITH v AS (
        SELECT user_id, min(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY 1
    ), c AS (
        SELECT e.user_id, min(e.ts) AS c_ts
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.v_ts
        GROUP BY 1
    ), p AS (
        SELECT e.user_id, min(e.ts) AS p_ts
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        GROUP BY 1
    )
    SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS n_users,
           (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed,
           (SELECT CAST(count(*) AS BIGINT) FROM c)
               AS n_clicked_after_view,
           (SELECT CAST(count(*) AS BIGINT) FROM p)
               AS n_purchased_after_click
"""


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first event, counted as active in each subsequent week offset —
    the product-analytics retention triangle.

    Shape: first-event aggregate (|users| rows) joined back onto the
    weekly activity pairs, then one hash aggregate on (cohort_week,
    week_offset). Distinct (user, week) pairs are reduced BEFORE the
    join, so the join input is bounded by users x active-weeks, not
    raw events.
    """
    from simpleetlpipeline_spark.io import read_table

    events = read_table(spark, sf_dir, "events")
    # week_start: Monday DATE from pure epoch-day arithmetic (the
    # timezone-proof replacement for to_date(date_trunc('week', ts));
    # operators/dates.py) — matches the oracle's Monday truncation.
    week = week_start("ts")
    firsts = (events.select("user_id", week.alias("w"))
              .groupBy("user_id").agg(F.min("w").alias("cohort_week")))
    active = (events.select("user_id", week.alias("active_week"))
              .distinct())
    return (
        active.join(firsts, "user_id")
        .select("cohort_week",
                (F.datediff("active_week", "cohort_week") / 7)
                .cast("int").alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


def events_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + trailing-7-day active users (DAU/WAU) per day.

    Rolling DISTINCT does not decompose into partial aggregates, so
    the scale-honest form EXPLODES each distinct (user, day) pair
    into the 7 report days it contributes to, then hash-aggregates —
    shuffle volume is 7x the distinct pairs (bounded), with no
    re-scan per window and no holistic state. Report days are
    restricted to days that actually have events (no dense calendar
    spine needed).
    """
    from simpleetlpipeline_spark.io import read_table

    events = read_table(spark, sf_dir, "events")
    pairs = (events.select("user_id", epoch_date("ts").alias("day"))
             .distinct())
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = pairs.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"), F.date_add("day", 6))).alias("report_day"))
    wau = (contrib.distinct()
           .groupBy("report_day").agg(F.count(F.lit(1)).alias("wau")))
    return (
        dau.join(wau, dau.day == wau.report_day)
        .select("day", "dau", "wau")
    )


QUERIES["events_cohort_retention"] = events_cohort_retention
QUERIES["events_wau"] = events_wau

ORACLE_SQL["events_cohort_retention"] = """
    WITH f AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY 1
    ), a AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INT)
               AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
"""

ORACLE_SQL["events_wau"] = """
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY 1
    ), contrib AS (
        SELECT DISTINCT user_id,
               day + CAST(o.x AS INTEGER) AS report_day
        FROM pairs CROSS JOIN (
            SELECT unnest(range(0, 7)) AS x) o
    ), wau AS (
        SELECT report_day, CAST(count(*) AS BIGINT) AS wau
        FROM contrib GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau
    FROM dau d JOIN wau w ON w.report_day = d.day
"""


def ship_latency_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order month: the
    fulfillment SLA report. Latencies are integer day counts
    (datediff), so min/max are exact and the interpolated median is
    at worst an x.5 — no float-sum hazard anywhere.

    Shape: the one genuinely fact-fact join in the catalog
    (lineitem⋈orders on orderkey) — both sides shuffle on the key;
    at warehouse scale this is the join you bucket both tables on
    (io.write_bucketed, zero-exchange plan-tested). The monthly
    aggregate downstream is |months| groups.

    NOTE: the synthetic testdata ships ~half the items before their
    order date (independent date columns) — the negative latencies
    are reported, not cleaned: an SLA report that silently drops
    impossible rows hides exactly the data bugs it exists to catch.
    """
    from simpleetlpipeline_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    lat = epoch_day("l_shipdate") - epoch_day("o_orderdate")
    # hot-path pattern (dates.month_label contract): per-row label
    # strings on the joined fact frame cost ~2x at sf1 (measured
    # 10.4s -> 5.7s) — bucket by the pure-DATE month_start, label
    # the |months| aggregate
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(month_start("o_orderdate").alias("__m"),
                lat.alias("lat"))
        .groupBy("__m")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("lat").cast("long").alias("min_days"),
            F.max("lat").cast("long").alias("max_days"),
            (F.floor(F.percentile("lat", F.lit(0.5)) * 10) / 10)
            .alias("p50_days"),
        )
        .select(label_of_month_start("__m").alias("month"), "n_items",
                "min_days", "max_days", "p50_days")
    )


QUERIES["ship_latency_monthly"] = ship_latency_monthly

ORACLE_SQL["ship_latency_monthly"] = """
    SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(min(date_diff('day', o.o_orderdate, l.l_shipdate))
                AS BIGINT) AS min_days,
           CAST(max(date_diff('day', o.o_orderdate, l.l_shipdate))
                AS BIGINT) AS max_days,
           floor(quantile_cont(
               date_diff('day', o.o_orderdate, l.l_shipdate), 0.5) * 10)
               / 10 AS p50_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
"""


def supplier_geo_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geography dimension rollup: per region, its nation count and
    the supplier/customer population — the reference-data sanity view
    over the full region→nation→{supplier, customer} star arm.

    All four inputs are dimensions; every join broadcasts and the
    final aggregate is |regions| rows. Counting suppliers and
    customers as separate pre-aggregated branches (then joining)
    keeps each count exact — a single flattened join would multiply
    suppliers × customers per nation.
    """
    from simpleetlpipeline_spark.io import read_table

    region = read_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name")
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey")
    supp = (read_table(spark, sf_dir, "supplier")
            .groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_supp")))
    cust = (read_table(spark, sf_dir, "customer")
            .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust")))
    per_nation = (
        nation.join(supp, nation.n_nationkey == supp.s_nationkey, "left")
        .join(cust, nation.n_nationkey == cust.c_nationkey, "left")
        .select("n_regionkey",
                F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
                F.coalesce("n_cust", F.lit(0)).alias("n_cust"))
    )
    return (
        per_nation.join(F.broadcast(region),
                        per_nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"),
             F.sum("n_supp").alias("n_suppliers"),
             F.sum("n_cust").alias("n_customers"))
    )


QUERIES["supplier_geo_rollup"] = supplier_geo_rollup

ORACLE_SQL["supplier_geo_rollup"] = """
    WITH s AS (
        SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1
    ), c AS (
        SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1
    )
    SELECT r.r_name,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(coalesce(s.n_supp, 0)) AS BIGINT) AS n_suppliers,
           CAST(sum(coalesce(c.n_cust, 0)) AS BIGINT) AS n_customers
    FROM nation n
    JOIN region r ON r.r_regionkey = n.n_regionkey
    LEFT JOIN s ON s.s_nationkey = n.n_nationkey
    LEFT JOIN c ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
"""


ZORDER_FILES = 16
_Z_BITS = 16


def _z_expr(ux: str, tx: str, shift_fn) -> str:
    """Bit-interleave expression (Morton/Z-order) for two 16-bit
    keys, generated once and rendered per engine — identical
    integer arithmetic, so the z-values hash-match exactly."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(shift_fn(f"({shift_fn(ux, -i)} & 1)", 2 * i))
        terms.append(shift_fn(f"({shift_fn(tx, -i)} & 1)", 2 * i + 1))
    return " + ".join(terms)


def _shift_sql(expr: str, n: int) -> str:
    """Portable shift (works in Spark SQL and DuckDB): n>0 left,
    n<0 right, rendered as multiplication/integer-division by 2^|n|
    (bit-identical to shifts for non-negative ints, and avoids the
    engines' differing shift-operator spellings)."""
    if n == 0:
        return expr
    if n > 0:
        return f"({expr} * {1 << n})"
    return f"CAST(floor({expr} / {1 << -n}) AS BIGINT)"


def zorder_layout_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout plan for the events table — the
    data-layout job behind min/max data skipping: interleave the
    bits of (user_id, hour) so rows close in BOTH dimensions land in
    the same file, then report each planned file's min/max stats.
    Tight per-file ranges are what lets a scan prune files on EITHER
    a user predicate or a time predicate — the multi-dimension
    clustering a single-column sort can't give (sorting by user
    makes every file span all of time, and vice versa).

    The manifest emits exactly the pruning index a lakehouse keeps
    (per-file min/max per column); the span columns make the
    clustering quality measurable — and the pytest contract asserts
    z-ordered files beat a user-sorted layout on time-span.

    Determinism: z-values are pure integer arithmetic (the
    interleave renders as multiply/divide-by-2^k — bit-identical in
    both engines), and the file split is ntile over (z, event_id) —
    a total order, so every row's file assignment is exact.

    Scale: a layout job is a global sort, and Spark plans an
    UNPARTITIONED ntile window as Exchange SinglePartition — one
    task sorting the whole table (the round-5 verdict's WindowExec
    warning). The split therefore runs as the two-pass form:
    content-bucketed global ranks (two_pass_global_window — coarse
    z-range buckets, per-bucket distributed sort, tiny spine for
    offsets) + ntile recomputed arithmetically from (rank, N)
    (ntile_from_rank, bit-identical to the window function) — the
    oracle keeps plain SQL ntile and the hashes match exactly. The
    manifest aggregate is |files| groups, map-side combined.
    """
    from simpleetlpipeline_spark.operators.aggregates import (
        ntile_from_rank, two_pass_global_window)

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    keyed = events.select(
        "event_id",
        (F.col("user_id") % (1 << _Z_BITS)).alias("ux"),
        (hour_bucket("ts") % (1 << _Z_BITS)).alias("tx"),
    )
    z = F.expr(_z_expr("ux", "tx", _shift_sql))
    # The z domain is static — interleaving two _Z_BITS-bit fields
    # yields z in [0, 2^(2*_Z_BITS)) — so key_bounds skips the
    # min/max scalar pass: one less full evaluation of the keyed
    # events projection and two fewer jobs (round 13, guide §2.4).
    ranked = two_pass_global_window(
        keyed.withColumn("z", z.cast("long")),
        "z", [F.col("z"), F.col("event_id")],
        rank_out="__r", total_rows_out="__n",
        key_bounds=(0, float((1 << (2 * _Z_BITS)) - 1)))
    return (
        ranked
        .withColumn("file_id",
                    ntile_from_rank(F.col("__r"), F.col("__n"), ZORDER_FILES))
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.min("z").alias("z_min"), F.max("z").alias("z_max"),
             F.min("ux").alias("user_min"), F.max("ux").alias("user_max"),
             F.min("tx").alias("hour_min"), F.max("tx").alias("hour_max"))
        .orderBy("file_id")
    )


QUERIES["zorder_layout_manifest"] = zorder_layout_manifest


def _zorder_oracle() -> str:
    zx = _z_expr("ux", "tx", _shift_sql)
    return f"""
        WITH keyed AS (
            SELECT event_id,
                   user_id % {1 << _Z_BITS} AS ux,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT)
                       % {1 << _Z_BITS} AS tx
            FROM events
        ), zed AS (
            SELECT event_id, ux, tx, CAST({zx} AS BIGINT) AS z
            FROM keyed
        ), tiled AS (
            SELECT ux, tx, z,
                   ntile({ZORDER_FILES})
                       OVER (ORDER BY z, event_id) AS file_id
            FROM zed
        )
        SELECT file_id, count(*) AS n_rows,
               min(z) AS z_min, max(z) AS z_max,
               min(ux) AS user_min, max(ux) AS user_max,
               min(tx) AS hour_min, max(tx) AS hour_max
        FROM tiled
        GROUP BY 1
        ORDER BY 1
    """


ORACLE_SQL["zorder_layout_manifest"] = _zorder_oracle()


def events_unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The melt direction of the pivot pair: the wide day x type
    cross-tab (events_pivot_daily) unpivoted back to long
    (day, event_type, n_events) rows via DataFrame.unpivot — the
    wide->long reshape every BI export or ML feature store needs
    after a cross-tab, including the explicit zero rows the pivot
    filled in. Unpivot is a zero-shuffle expression (each wide row
    expands in place), so the plan cost is the pivot's single hash
    aggregate. Round-trip contract: re-aggregating this output
    reproduces the original (day, type) counts exactly — pinned by
    the pytest."""
    wide = events_pivot_daily(spark, sf_dir)
    return (
        wide.unpivot("day", list(EVENT_TYPES), "event_type", "n_events")
        .select("day", "event_type", F.col("n_events").cast("long")
                .alias("n_events"))
    )


QUERIES["events_unpivot_daily"] = events_unpivot_daily

ORACLE_SQL["events_unpivot_daily"] = f"""
    WITH days AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    ), types AS (
        SELECT unnest({list(EVENT_TYPES)!r}) AS event_type
    ), counts AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT d.day, t.event_type,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
    FROM days d CROSS JOIN types t
    LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
"""


RFM_BINS = 5


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer scoring every CRM
    migration asks for on week one: per customer, Recency (days
    since last order, anchored at the corpus max date for
    determinism), Frequency (order count) and Monetary (exact
    decimal spend), each ntiled into RFM_BINS quintiles with
    deterministic tie-breaks, plus the composite RFM code.

    One pass over orders (map-side partials to |customers| rows) —
    persisted, since the shared ranking stack reads it twice (the
    min/max scalar agg, the spine, and the main pass) — then ONE
    shared two-pass distributed rank stack producing all three
    rankings (two_pass_global_ranks + ntile_from_rank, round-12
    rewrite; previously three independent two_pass_global_window
    calls each paid their own scalar agg, spine and custkey rejoin —
    26 jobs for one frame, now ~9): the customer dimension is only
    mid-tier, but at 10^9 customers an unpartitioned ntile window
    would still funnel it through one task, so no global window
    appears at any tier. Descending rankings reuse the ascending
    machinery by keying on the negated measure; rank columns are
    appended by chained per-bucket windows, so no entity-key join
    ever materializes.
    """
    from simpleetlpipeline_spark.cache import track
    from simpleetlpipeline_spark.operators.aggregates import (
        ntile_from_rank, two_pass_global_ranks)

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice")
    anchor = orders.agg(
        F.max(epoch_date("o_orderdate")).alias("__maxd"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.max(epoch_date("o_orderdate")).alias("last_order"),
             F.count(F.lit(1)).alias("frequency"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").alias("monetary"))
        .crossJoin(F.broadcast(anchor))
        .select(F.col("o_custkey").alias("custkey"),
                F.datediff(F.col("__maxd"), F.col("last_order"))
                .alias("recency_days"),
                "frequency", "monetary",
                (-F.col("frequency")).alias("neg_f"),
                (-F.col("monetary")).alias("neg_m"))
    )
    per_cust = track(per_cust.persist())
    ranked = two_pass_global_ranks(
        per_cust,
        [("recency_days",
          [F.col("recency_days"), F.col("custkey")], "__rk_r"),
         ("neg_f", [F.col("neg_f"), F.col("custkey")], "__rk_f"),
         ("neg_m", [F.col("neg_m"), F.col("custkey")], "__rk_m")],
        total_rows_out="__nn")
    nn = F.col("__nn")
    return ranked.select(
        "custkey", "recency_days", "frequency", "monetary",
        ntile_from_rank(F.col("__rk_r"), nn, RFM_BINS).alias("r_score"),
        ntile_from_rank(F.col("__rk_f"), nn, RFM_BINS).alias("f_score"),
        ntile_from_rank(F.col("__rk_m"), nn, RFM_BINS).alias("m_score"),
        (ntile_from_rank(F.col("__rk_r"), nn, RFM_BINS) * 100
         + ntile_from_rank(F.col("__rk_f"), nn, RFM_BINS) * 10
         + ntile_from_rank(F.col("__rk_m"), nn, RFM_BINS))
        .alias("rfm_code"))


QUERIES["customer_rfm_segments"] = customer_rfm_segments

ORACLE_SQL["customer_rfm_segments"] = f"""
    WITH a AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd
               FROM orders),
    pc AS (
        SELECT o_custkey AS custkey,
               date_diff('day', max(CAST(o_orderdate AS DATE)),
                         (SELECT maxd FROM a)) AS recency_days,
               count(*) AS frequency,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS monetary
        FROM orders GROUP BY 1
    )
    SELECT custkey, recency_days, frequency, monetary,
           ntile({RFM_BINS}) OVER (ORDER BY recency_days ASC,
                                   custkey ASC) AS r_score,
           ntile({RFM_BINS}) OVER (ORDER BY frequency DESC,
                                   custkey ASC) AS f_score,
           ntile({RFM_BINS}) OVER (ORDER BY monetary DESC,
                                   custkey ASC) AS m_score,
           ntile({RFM_BINS}) OVER (ORDER BY recency_days ASC,
                                   custkey ASC) * 100
           + ntile({RFM_BINS}) OVER (ORDER BY frequency DESC,
                                     custkey ASC) * 10
           + ntile({RFM_BINS}) OVER (ORDER BY monetary DESC,
                                     custkey ASC) AS rfm_code
    FROM pc
"""


FUNNEL_CLICK_WINDOW_H = 1
FUNNEL_PURCHASE_WINDOW_H = 24


def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound conversion funnel — events_funnel with DEADLINES:
    users whose first click came within 1 hour of their first view,
    and whose first purchase came within 24 hours of that qualifying
    click. Unbounded funnels overcount (a purchase three months
    after the view is not that view's conversion); the windowed form
    is what growth teams actually report.

    Each stage reduces to one row per user BEFORE the next join
    (per-user min-ts aggregates, map-side combined), so the chained
    joins move |users| rows, not raw events; timestamps compare at
    exact microsecond precision in both engines.
    """
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    v = (events.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    c = (events.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter((F.col("ts") > F.col("v_ts"))
                 & (F.col("ts") <= F.col("v_ts")
                    + F.expr(f"INTERVAL {FUNNEL_CLICK_WINDOW_H} HOUR")))
         .groupBy("user_id").agg(F.min("ts").alias("c_ts")))
    p = (events.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") > F.col("c_ts"))
                 & (F.col("ts") <= F.col("c_ts")
                    + F.expr(f"INTERVAL {FUNNEL_PURCHASE_WINDOW_H} HOUR")))
         .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(F.broadcast(
            c.agg(F.count(F.lit(1)).alias("n_clicked_in_window"))))
        .crossJoin(F.broadcast(
            p.agg(F.count(F.lit(1)).alias("n_purchased_in_window"))))
    )


QUERIES["events_funnel_windowed"] = events_funnel_windowed

ORACLE_SQL["events_funnel_windowed"] = f"""
    WITH v AS (
        SELECT user_id, min(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY 1
    ), c AS (
        SELECT e.user_id, min(e.ts) AS c_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND e.ts > v.v_ts
          AND e.ts <= v.v_ts + INTERVAL {FUNNEL_CLICK_WINDOW_H} HOUR
        GROUP BY 1
    ), p AS (
        SELECT e.user_id, min(e.ts) AS p_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > c.c_ts
          AND e.ts <= c.c_ts + INTERVAL {FUNNEL_PURCHASE_WINDOW_H} HOUR
        GROUP BY 1
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_in_window,
           (SELECT count(*) FROM p) AS n_purchased_in_window
"""


def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) report: customer deciles by
    spend, each decile's share of total revenue, the cumulative
    share, and the Gini coefficient riding on every row — the
    how-dependent-are-we-on-whales view behind account-management
    staffing and the 80/20 sanity check.

    Exactness: spend is a decimal sum; the Gini uses the closed form
    G = (2*sum(rank*spend) / (n*total)) - (n+1)/n over spend ranked
    ascending (ties by custkey), where sum(rank*spend) is an exact
    DECIMAL sum of integer-rank x 2dp-decimal products — no float
    folds anywhere before the final fixed IEEE chain, floored 4dp.

    Shape: orders aggregate to |customers| map-side; the customer
    frame is ranked by the TWO-PASS distributed form
    (two_pass_global_window: coarse spend-range buckets, per-bucket
    windowed ranks, tiny offset spine) with the decile recomputed
    arithmetically from (rank, N) via ntile_from_rank — bit-identical
    to SQL ntile, so the oracle keeps the plain window, and no
    unpartitioned window ever sees the customer tier (at 10^9
    customers the naive form funnels through one task). The decile
    rollup is 10 rows.
    """
    from simpleetlpipeline_spark.operators.aggregates import (
        ntile_from_rank, two_pass_global_window)

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice")
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     .alias("spend")))
    ranked = two_pass_global_window(
        per_cust, "spend", [F.asc("spend"), F.asc("o_custkey")],
        rank_out="__rk", total_rows_out="__nn")
    ranked = ranked.select(
        "o_custkey", "spend",
        F.col("__rk").cast("int").alias("rk"),
        ntile_from_rank(F.col("__rk"), F.col("__nn"), 10)
        .alias("decile"))
    totals = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("spend").cast("double").alias("__total"),
        F.sum(F.col("rk").cast("decimal(10,0)")
              * F.col("spend").cast("decimal(18,2)"))
        .cast("double").alias("__rs"))
    gini = (F.lit(2.0) * F.col("__rs") / (F.col("__n") * F.col("__total"))
            - (F.col("__n") + 1) / F.col("__n"))
    deciles = (ranked.groupBy("decile")
               .agg(F.count(F.lit(1)).alias("n_customers"),
                    F.sum("spend").cast("double").alias("decile_revenue")))
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        deciles.crossJoin(F.broadcast(totals))
        .select(
            "decile", "n_customers", "decile_revenue",
            (F.floor(F.col("decile_revenue") / F.col("__total") * 10000)
             / 10000).alias("revenue_share"),
            (F.floor(F.sum("decile_revenue").over(w_cum)
                     / F.col("__total") * 10000) / 10000)
            .alias("cumulative_share"),
            (F.floor(gini * 10000) / 10000).alias("gini"))
        .orderBy("decile")
    )


QUERIES["revenue_concentration"] = revenue_concentration

ORACLE_SQL["revenue_concentration"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT o_custkey, spend,
               row_number() OVER (ORDER BY spend ASC, o_custkey ASC)
                   AS rk,
               ntile(10) OVER (ORDER BY spend ASC, o_custkey ASC)
                   AS decile
        FROM per_cust
    ), t AS (
        SELECT count(*) AS n,
               CAST(sum(spend) AS DOUBLE) AS total,
               CAST(sum(CAST(rk AS DECIMAL(10,0))
                        * CAST(spend AS DECIMAL(18,2))) AS DOUBLE)
                   AS rs
        FROM ranked
    ), d AS (
        SELECT decile, count(*) AS n_customers,
               CAST(sum(spend) AS DOUBLE) AS decile_revenue
        FROM ranked GROUP BY 1
    )
    SELECT decile, n_customers, decile_revenue,
           floor(decile_revenue / t.total * 10000) / 10000
               AS revenue_share,
           floor(sum(decile_revenue)
                     OVER (ORDER BY decile
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
                 / t.total * 10000) / 10000 AS cumulative_share,
           floor((2.0 * t.rs / (t.n * t.total) - (t.n + 1) * 1.0 / t.n)
                 * 10000) / 10000 AS gini
    FROM d CROSS JOIN t
    ORDER BY decile
"""


def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU/MAU): per month, the mean daily-active-user
    count divided by the monthly-active-user count — the engagement
    ratio (how much of the monthly audience shows up on a typical
    day) every product review tracks next to raw actives.

    mean-DAU folds as an exact integer pair (sum of daily distinct
    counts / days with activity); MAU is one distinct per month;
    the ratio is one IEEE divide floored 4dp. Two hash aggregates
    plus a month join — at 100 TB both distincts swap for HLL
    sketches (hll_shard_merge is the evidence that is safe).
    """
    # one epoch_date per row; the month bucket is a pure-DATE trunc
    # of it (no per-row strings — the dates.month_label contract)
    events = read_table(spark, sf_dir, "events").select(
        F.trunc(epoch_date("ts"), "month").alias("__m"),
        epoch_date("ts").alias("day"), "user_id")
    dau = (events.groupBy("__m", "day")
           .agg(F.count_distinct("user_id").alias("dau")))
    per_month_dau = dau.groupBy("__m").agg(
        F.sum("dau").alias("dau_sum"),
        F.count(F.lit(1)).alias("n_days"))
    mau = events.groupBy("__m").agg(
        F.count_distinct("user_id").alias("mau"))
    return (
        per_month_dau.join(mau, "__m")
        .select(label_of_month_start("__m").alias("month"),
                "n_days", "mau",
                (F.floor(F.col("dau_sum") / F.col("n_days") * 100) / 100)
                .alias("mean_dau"),
                (F.floor(F.col("dau_sum") / F.col("n_days")
                         / F.col("mau") * 10000) / 10000)
                .alias("stickiness"))
        .orderBy("month")
    )


QUERIES["events_stickiness"] = events_stickiness

ORACLE_SQL["events_stickiness"] = """
    WITH e AS (
        SELECT strftime(ts, '%Y-%m') AS month,
               CAST(ts AS DATE) AS day, user_id
        FROM events
    ), dau AS (
        SELECT month, day, count(DISTINCT user_id) AS dau
        FROM e GROUP BY 1, 2
    ), pm AS (
        SELECT month, CAST(sum(dau) AS BIGINT) AS dau_sum,
               count(*) AS n_days
        FROM dau GROUP BY 1
    ), mau AS (
        SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM e GROUP BY 1
    )
    SELECT month, n_days, mau,
           floor(dau_sum * 1.0 / n_days * 100) / 100 AS mean_dau,
           floor(dau_sum * 1.0 / n_days / mau * 10000) / 10000
               AS stickiness
    FROM pm JOIN mau USING (month)
    ORDER BY month
"""


def monthly_seasonality_index(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Seasonality decomposition of monthly revenue: each calendar
    month's index = its mean revenue across years divided by the
    overall monthly mean — the 'is December really 1.4x' factor
    behind inventory and capacity planning, and the denominator for
    deseasonalized trend monitoring.

    Exactness: per-month revenue is a decimal sum; the two means
    divide exact decimal-derived doubles by exact integer counts, so
    the index is a fixed IEEE chain floored 4dp. Two tiny aggregates
    over the |months| rollup frame (which itself folds map-side from
    orders) plus a one-row broadcast."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == COMPLETED)
    monthly = (orders.groupBy(
        month_start("o_orderdate").alias("__m"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .alias("rev")))
    # cal_month as the zero-padded month of the DATE key (pure
    # calendar arithmetic; identical to substring(label, 6, 2))
    by_cal = (monthly.groupBy(
        F.lpad(F.month("__m").cast("string"), 2, "0")
        .alias("cal_month"))
        .agg(F.sum("rev").cast("double").alias("rev_sum"),
             F.count(F.lit(1)).alias("n_years")))
    overall = monthly.agg(
        F.sum("rev").cast("double").alias("__tot"),
        F.count(F.lit(1)).alias("__n"))
    mean_month = F.col("rev_sum") / F.col("n_years")
    overall_mean = F.col("__tot") / F.col("__n")
    return (
        by_cal.crossJoin(F.broadcast(overall))
        .select("cal_month", "n_years",
                (F.floor(mean_month * 100) / 100).alias("mean_revenue"),
                (F.floor(mean_month / overall_mean * 10000) / 10000)
                .alias("seasonality_index"))
        .orderBy("cal_month")
    )


QUERIES["monthly_seasonality_index"] = monthly_seasonality_index

ORACLE_SQL["monthly_seasonality_index"] = """
    WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS ym,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY 1
    ), by_cal AS (
        SELECT substring(ym, 6, 2) AS cal_month,
               CAST(sum(rev) AS DOUBLE) AS rev_sum,
               count(*) AS n_years
        FROM monthly GROUP BY 1
    ), o AS (
        SELECT CAST(sum(rev) AS DOUBLE) AS tot, count(*) AS n
        FROM monthly
    )
    SELECT cal_month, n_years,
           floor(rev_sum / n_years * 100) / 100 AS mean_revenue,
           floor((rev_sum / n_years) / (o.tot / o.n) * 10000) / 10000
               AS seasonality_index
    FROM by_cal CROSS JOIN o
    ORDER BY cal_month
"""


ROLLING_DAYS = 7
ROLLING_EPOCH = "1995-01-01"


def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue per order status — the RANGE-frame
    window (rangeBetween over an integer day number, the one frame
    type no other catalog entry exercises): each day's trailing
    7-day revenue and how many of those 7 calendar days actually had
    orders. ROWS frames are wrong here by design — a gap day must
    still shrink the window, which only a RANGE frame over the day
    number does.

    Scale shape per the module contract: the window runs over the
    per-(status, day) ROLLUP (|status| x |days| rows — bounded at
    any SF), never over raw orders; the rollup itself is one
    map-side-combined hash agg. Revenue is the exact DECIMAL sum of
    2dp inputs end to end (window sums of decimals are exact in
    both engines; the double cast happens only at output), and the
    RANGE bound is an integer day offset computed identically in
    both engines from the same epoch."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderdate", "o_totalprice")
    daily = (
        orders.groupBy(
            "o_orderstatus",
            epoch_date("o_orderdate").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .alias("day_rev"))
        .withColumn("day_num",
                    F.datediff(F.col("day"), F.lit(ROLLING_EPOCH)))
    )
    w = (Window.partitionBy("o_orderstatus").orderBy("day_num")
         .rangeBetween(-(ROLLING_DAYS - 1), 0))
    return (
        daily.select(
            "o_orderstatus", "day",
            F.col("day_rev").cast("double").alias("day_revenue"),
            F.sum("day_rev").over(w).cast("double")
             .alias("rolling_7d_revenue"),
            F.count(F.lit(1)).over(w).alias("n_days_in_window"))
        .orderBy("o_orderstatus", "day")
    )


QUERIES["rolling_7d_revenue"] = rolling_7d_revenue

ORACLE_SQL["rolling_7d_revenue"] = f"""
    WITH daily AS (
        SELECT o_orderstatus,
               CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev,
               date_diff('day', DATE '{ROLLING_EPOCH}',
                         CAST(o_orderdate AS DATE)) AS day_num
        FROM orders GROUP BY 1, 2, 4
    )
    SELECT o_orderstatus, day,
           CAST(day_rev AS DOUBLE) AS day_revenue,
           CAST(sum(day_rev) OVER w AS DOUBLE) AS rolling_7d_revenue,
           CAST(count(*) OVER w AS BIGINT) AS n_days_in_window
    FROM daily
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY day_num
                 RANGE BETWEEN {ROLLING_DAYS - 1} PRECEDING
                 AND CURRENT ROW)
    ORDER BY o_orderstatus, day
"""


EWMA_ALPHA = 0.3


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value.
    The recursion y_t = a*x_t + (1-a)*y_{t-1} has the closed form
    y_n = (1-a)^(n-1)*x_1 + Σ_{t=2..n} a*(1-a)^(n-t)*x_t, evaluated
    here as one window pass + one hash aggregate — all JVM built-ins
    (round-12 rewrite, optimization guide §4.1; previously a
    grouped-map applyInPandas whose one-row-per-group pandas frames
    dominated the wall clock: every user's history crossed the
    Python boundary to produce four scalars).

    Shape: ONE exchange. Rows are windowed per user in DESCENDING
    (ts, event_id) order, so the t-th-from-last row has weight
    a*(1-a)^(rn-1) without knowing the series length n up front —
    the first event of the series (no earlier row ⟺ lead() over the
    descending order is null) takes the (1-a)^(rn-1) base weight.
    The hash aggregate that follows groups by the window's own
    partition key, so no second exchange appears; per-user weighted
    sums fold in deterministic (sorted) order inside one partition.

    Determinism: the total order (ts, event_id) means tied
    timestamps can never reorder the fold. Scale: the window sorts
    per user (the sessionization bound), the aggregate is map-side
    combinable; no per-key state beyond the sort.

    HASH-ORACLED since round 10 (round-9 verdict task #3). The
    DuckDB twin evaluates the same closed form (ascending
    row_number weights); float last-bit drift between fold orders is
    absorbed by the published-value guard — snap to 1e-4 first
    (floor(x*10000 + 0.5); spelled with floor rather than round()
    because Python rounds half to even while DuckDB rounds half
    away from zero), THEN floor the snapped value to cents. The
    independent (non-closed-form) implementation remains pinned by
    tests/test_analytics.py::test_user_value_ewma_matches_explicit_
    recursion, which folds the textbook recursion in pure Python.
    Null values would make the previous pandas ewm skip semantics
    diverge from the weighted sum, so both sides filter them
    (testdata has none — the filter is a contract, not a
    workaround)."""
    ev = (read_table(spark, sf_dir, "events")
          .select("user_id", "ts", "event_id", "value")
          .filter(F.col("value").isNotNull()))

    wd = (Window.partitionBy("user_id")
          .orderBy(F.desc("ts"), F.desc("event_id")))
    ranked = ev.select(
        "user_id", "value",
        F.row_number().over(wd).alias("rn"),
        # null ⟺ no earlier event ⟺ this is the series' FIRST row
        F.lead("value", 1).over(wd).alias("earlier"))
    decay = F.pow(F.lit(1.0 - EWMA_ALPHA), F.col("rn") - F.lit(1))
    weight = F.when(F.col("earlier").isNull(), decay) \
        .otherwise(F.lit(EWMA_ALPHA) * decay)
    agg = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("rn") == 1, F.col("value")))
        .alias("last_value"),
        F.sum(F.col("value") * weight).alias("__ewma_raw"))
    return (agg.select(
        "user_id", "n_events", "last_value",
        (F.floor(F.floor(F.col("__ewma_raw") * 10000.0 + 0.5)
                 / 100.0) / 100.0).alias("ewma_value"))
        .orderBy("user_id"))


QUERIES["user_value_ewma"] = user_value_ewma

ORACLE_SQL["user_value_ewma"] = f"""
    WITH ordered AS (
        SELECT user_id, value,
               row_number() OVER w AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events WHERE value IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(any_value(n) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn = n THEN value END) AS DOUBLE)
               AS last_value,
           floor(floor(sum(value * CASE WHEN rn = 1
                       THEN pow(1.0 - {EWMA_ALPHA}, n - 1)
                       ELSE {EWMA_ALPHA} * pow(1.0 - {EWMA_ALPHA}, n - rn)
                     END) * 10000.0 + 0.5) / 100.0) / 100.0
               AS ewma_value
    FROM ordered
    GROUP BY user_id
    ORDER BY user_id
"""


TOPK_PER_USER = 3


def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k highest-value events per user — computed with the
    skew-proof two-phase salted window (operators.aggregates.
    salted_topk: rank within (user, salt), keep TOPK_PER_USER, re-rank the
    bounded survivors) and gate-PROVED equivalent to the single
    global window the DuckDB oracle runs. The ordering is total
    (value DESC, event_id ASC tiebreaker), which is exactly the
    condition under which the two-phase rewrite is an identity; at
    100 TB the single-window form sorts each hot user in one task,
    the salted form never sorts more than 1/n_salts of a key per
    task."""
    from simpleetlpipeline_spark.operators.aggregates import salted_topk

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value")
    out = salted_topk(
        ev, ["user_id"],
        [F.col("value").desc(), F.col("event_id").asc()], TOPK_PER_USER)
    return (out.select("user_id", "topk_rank", "event_id",
                       "event_type", "value")
            .orderBy("user_id", "topk_rank"))


QUERIES["top_events_per_user"] = top_events_per_user

ORACLE_SQL["top_events_per_user"] = f"""
    SELECT user_id, CAST(rnk AS INTEGER) AS topk_rank,
           event_id, event_type, value
    FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id ASC)
                   AS rnk
        FROM events
    )
    WHERE rnk <= {TOPK_PER_USER}
    ORDER BY user_id, topk_rank
"""


PATTERN_CONVERSION = "v[^p]*p"


def event_pattern_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event streams — the
    MATCH_RECOGNIZE capability Spark SQL lacks, compiled to a regex
    over the user's event-initial string (the five event types have
    distinct initials, so one char per event): `v[^p]*p` counts
    view->purchase conversions with no earlier purchase intervening,
    scanned left-to-right non-overlapping by both engines' regex
    semantics (the pattern class has a unique match per start, so
    leftmost-first and leftmost-longest agree). The sequence is
    built in deterministic (ts, event_id) order and the output
    carries its md5, so the oracle hashes the CONSTRUCTION, not just
    the count.

    Scale: one per-user agg whose state is one user's event string
    (the sessionization bound — a regex over it is linear); no
    windows, no second pass. At 100 TB the hot-key mitigation is the
    same time-chunking note as user_value_ewma."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("ch"))
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
            lambda s: s.ch),
        "")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), seq.alias("__seq"))
        .select("user_id", "n_events",
                F.regexp_count(F.col("__seq"), F.lit(PATTERN_CONVERSION))
                 .cast("bigint").alias("n_conversions"),
                F.md5(F.col("__seq")).alias("seq_md5"))
        .orderBy("user_id")
    )


QUERIES["event_pattern_conversions"] = event_pattern_conversions

ORACLE_SQL["event_pattern_conversions"] = f"""
    WITH seqs AS (
        SELECT user_id, count(*) AS n_events,
               string_agg(substring(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events GROUP BY 1
    )
    SELECT user_id, n_events,
           CAST(length(regexp_extract_all(seq, '{PATTERN_CONVERSION}'))
                AS BIGINT) AS n_conversions,
           md5(seq) AS seq_md5
    FROM seqs ORDER BY user_id
"""


#: Benford expected first-digit proportions, precomputed to fixed
#: 10dp literals so BOTH engines consume identical constants (each
#: engine's own log10 could differ by an ulp and flip a floored
#: comparison downstream).
BENFORD_EXPECTED = {
    1: "0.3010299957", 2: "0.1760912591", 3: "0.1249387366",
    4: "0.0969100130", 5: "0.0791812460", 6: "0.0669467896",
    7: "0.0579919470", 8: "0.0511525224", 9: "0.0457574906",
}


def benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts — the
    financial-data-quality screen (fabricated or unit-mangled money
    columns drift from the log distribution). Per leading digit:
    observed count, observed proportion, the Benford expectation,
    and the digit's chi-square contribution n*(obs-exp)^2/exp.

    Determinism: the first significant digit comes from the decimal
    STRING of the exact 2dp integer form (cast to DECIMAL(18,2),
    scale by 100, cast to BIGINT — integer-to-string renders
    identically in both engines; double-to-string and log10-based
    extraction both have cross-engine ulp hazards), proportions are
    exact-count ratios, and expectations are shared literals. One
    map-side-combined agg into 9 groups, plus a one-row total
    broadcast."""
    v2 = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("bigint")
    orders = (read_table(spark, sf_dir, "orders")
              .select(F.substring(v2.cast("string"), 1, 1)
                      .cast("int").alias("digit"))
              .filter(F.col("digit") >= 1))
    counts = orders.groupBy("digit").agg(
        F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    exp_col = F.element_at(
        F.array(*[F.lit(float(BENFORD_EXPECTED[d])) for d in range(1, 10)]),
        F.col("digit"))
    obs = F.col("n") / F.col("__total")
    chi = F.col("__total") * (obs - exp_col) * (obs - exp_col) / exp_col
    return (
        counts.crossJoin(F.broadcast(total))
        .select("digit", "n",
                (F.floor(obs * 1e6) / 1e6).alias("observed_p"),
                exp_col.alias("expected_p"),
                (F.floor(chi * 1e6) / 1e6).alias("chi2_component"))
        .orderBy("digit")
    )


QUERIES["benford_digit_test"] = benford_digit_test

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {v}" for d, v in BENFORD_EXPECTED.items())

ORACLE_SQL["benford_digit_test"] = f"""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(CAST(o_totalprice
                     AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR),
                    1, 1) AS INT) AS digit
        FROM orders
    ), counts AS (
        SELECT digit, count(*) AS n FROM digits
        WHERE digit >= 1 GROUP BY 1
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
    SELECT digit, CAST(n AS BIGINT) AS n,
           floor(CAST(n AS DOUBLE) / t * 1e6) / 1e6 AS observed_p,
           CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE)
               AS expected_p,
           floor(t * (CAST(n AS DOUBLE) / t
                      - CASE digit {_BENFORD_CASE} END)
                   * (CAST(n AS DOUBLE) / t
                      - CASE digit {_BENFORD_CASE} END)
                 / (CASE digit {_BENFORD_CASE} END) * 1e6) / 1e6
               AS chi2_component
    FROM counts CROSS JOIN tot ORDER BY digit
"""


AB_MOD = 100003
AB_MUL = 48271


def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over the event stream: users split
    50/50 into control/treatment by a deterministic integer ticket
    (user_id reduced mod a prime then multiplied — the
    train_split_assign contract, identical in both engines; no RNG,
    so the assignment is stable across reruns and reporting days),
    and the metric is view->purchase user conversion. Emits one row
    per arm (users, converters, conversion rate) — the z-statistic
    on the pooled rate derives from these exact integers downstream;
    keeping the report integer-valued keeps the gate hash exact.

    Shape: two hash aggregates over (user, arm) then arm — map-side
    combined, |arms| final groups, no joins wider than the event
    scan itself."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type")
    arm = F.when(
        ((F.col("user_id") % AB_MOD) * AB_MUL) % 2 == 0,
        F.lit("control")).otherwise(F.lit("treatment"))
    per_user = (
        ev.groupBy("user_id")
        .agg(F.max(F.when(F.col("event_type") == "view", 1)
                   .otherwise(0)).alias("viewed"),
             F.max(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).alias("purchased"))
        .filter(F.col("viewed") == 1)
        .select(arm.alias("arm"), "purchased")
    )
    return (
        per_user.groupBy("arm")
        .agg(F.count(F.lit(1)).alias("n_users"),
             F.sum("purchased").alias("n_converters"))
        .select("arm", "n_users",
                F.col("n_converters").cast("bigint").alias("n_converters"),
                (F.floor(F.col("n_converters") / F.col("n_users") * 1e6)
                 / 1e6).alias("conversion_rate"))
        .orderBy("arm")
    )


QUERIES["ab_test_report"] = ab_test_report

ORACLE_SQL["ab_test_report"] = f"""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS viewed,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS purchased
        FROM events GROUP BY 1
    ), armed AS (
        SELECT CASE WHEN ((user_id % {AB_MOD}) * {AB_MUL}) % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm,
               purchased
        FROM per_user WHERE viewed = 1
    )
    SELECT arm, count(*) AS n_users,
           CAST(sum(purchased) AS BIGINT) AS n_converters,
           floor(CAST(sum(purchased) AS DOUBLE) / count(*) * 1e6) / 1e6
               AS conversion_rate
    FROM armed GROUP BY 1 ORDER BY 1
"""


TREND_EPOCH = "1995-01-01"
#: Day index of TREND_EPOCH since 1970-01-01 — lets the trend/CUSUM
#: family derive its x-axis from raw epoch micros (timezone-proof;
#: see operators/dates.py) instead of datediff(to_date(ts), ...),
#: whose to_date resolves the session timezone at analysis time.
TREND_EPOCH_DAY = 9131
assert (_dt.date(1995, 1, 1) - _dt.date(1970, 1, 1)).days == TREND_EPOCH_DAY


def _trend_day(col: str = "o_orderdate"):
    """Days since TREND_EPOCH (long), from raw micros. Oracle twin:
    ``(epoch_us(col) // 86400000000) - 9131``."""
    return epoch_day(col) - F.lit(TREND_EPOCH_DAY)


def _sql_trend_day(col: str = "o_orderdate") -> str:
    return f"({sql_epoch_day(col)} - {TREND_EPOCH_DAY})"


def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares revenue trend: slope/intercept/R^2 of daily
    order revenue against the day number — the capacity-planning
    regression, computed from SUFFICIENT STATISTICS so one pass
    yields the fit (the feature_scaling_stats trick extended to
    second cross-moments). Every sum is exact: x is an integer day
    number, y is exact integer cents (DECIMAL(18,2) * 100), and Sxx
    / Sxy / Syy accumulate as DECIMAL(38,0) products of integers —
    no float ever enters a fold, so partition order cannot move a
    bit. slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) then derives
    through a fixed IEEE chain on identical numbers in both
    engines, floored 6dp (slope/intercept in cents/day and cents).

    Shape: one map-side-combined daily rollup (|days| groups), one
    one-row moment aggregate. Nothing else."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .select(_trend_day().alias("x"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").alias("cents"))
        .groupBy("x").agg(F.sum("cents").alias("y"))
    )
    xd, yd = F.col("x").cast("decimal(38,0)"), F.col("y").cast("decimal(38,0)")
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"), F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"), F.sum(xd * yd).alias("sxy"),
        F.sum(yd * yd).alias("syy"))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)
          / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
    return m.select(
        F.col("n").alias("n_days"),
        (F.floor(slope * 1e6) / 1e6).alias("slope_cents_per_day"),
        (F.floor(intercept * 1e6) / 1e6).alias("intercept_cents"),
        (F.floor(r2 * 1e6) / 1e6).alias("r2"))


QUERIES["revenue_trend_ols"] = revenue_trend_ols

ORACLE_SQL["revenue_trend_ols"] = f"""
    WITH daily AS (
        SELECT {_sql_trend_day()} AS x,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), m AS (
        SELECT count(*) AS n,
               sum(CAST(x AS DECIMAL(38,0))) AS sx,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy,
               sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy
        FROM daily
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1e6) / 1e6 AS slope_cents_per_day,
           floor((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
                 * 1e6) / 1e6 AS intercept_cents,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1e6) / 1e6 AS r2
    FROM m
"""

def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer market
    segment and order priority — the categorical-association audit
    (is priority mix uniform across segments?). The reference's
    validation suite checks per-column properties (main.py:700-760);
    this is the cross-column generalization an analyst reaches for
    next.

    Exactness contract: observed counts and marginals are integers;
    each cell's (obs*N - row*col) difference is computed in
    DECIMAL(19,0) products (max width DuckDB can multiply without
    overflow; values fit through N ~ 1.5e9 rows), squared and
    divided in double via a parenthesis-pinned chain, then FLOOR
    quantized to nano-units (1e9) per cell BEFORE the cross-cell
    sum — so the fold is over exact int64s and partition order
    cannot move a bit. chi2 is presented as the single division
    chi2_nano/1e9 (one deterministic IEEE op).

    Zero cells: a (segment, priority) combination observed nowhere
    still contributes (0 - E)^2/E — the groupBy alone would drop it
    and bias chi2 low, so the observed cells are left-joined onto
    the full distinct-segments x distinct-priorities grid first
    (caught by test_chi_square_perfect_dependence, where half the
    2x2 grid is empty).

    Shape: one orders->customer equi-join (dim side broadcast-
    eligible; at 100 TB both sides shuffle on the key — no skew,
    custkey is uniform), one map-side-combined hash agg to |segments
    x priorities| cells (~25 rows), then a tiny grid cross-join and
    windows over the cell table. Nothing after the agg touches big
    data."""
    from simpleetlpipeline_spark.cache import track

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    # persisted: the observed cells feed THREE consumers (two
    # distinct category lists + the grid left-join); without the
    # cache each one would re-run the big-data join+agg pass
    observed = track(
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist())
    # broadcast the priorities side: a category list is always tiny,
    # and a plain crossJoin of two distributed one-column frames
    # would plan as CartesianProduct
    grid = (observed.select("c_mktsegment").distinct()
            .crossJoin(F.broadcast(
                observed.select("o_orderpriority").distinct())))
    cells = (
        grid.join(observed, ["c_mktsegment", "o_orderpriority"], "left")
        .select("c_mktsegment", "o_orderpriority",
                F.coalesce(F.col("n"), F.lit(0)).alias("obs"))
    )

    def d19(c):
        return c.cast("decimal(19,0)")

    w_seg = Window.partitionBy("c_mktsegment")
    w_pri = Window.partitionBy("o_orderpriority")
    w_all = Window.partitionBy()
    t = (
        cells
        .withColumn("row_t", F.sum("obs").over(w_seg))
        .withColumn("col_t", F.sum("obs").over(w_pri))
        .withColumn("n", F.sum("obs").over(w_all))
    )
    num = (d19(F.col("obs")) * d19(F.col("n"))
           - d19(F.col("row_t")) * d19(F.col("col_t"))).cast("double")
    den = ((F.col("n").cast("double") * F.col("row_t").cast("double"))
           * F.col("col_t").cast("double"))
    per_cell = t.select(
        "c_mktsegment", "o_orderpriority", "obs",
        F.floor(num * num / den * 1e9).cast("long").alias("term_nano"))
    return per_cell.agg(
        F.sum("obs").cast("bigint").alias("n_rows"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("n_segments"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_priorities"),
        ((F.countDistinct("c_mktsegment") - 1)
         * (F.countDistinct("o_orderpriority") - 1))
        .cast("bigint").alias("dof"),
        F.sum("term_nano").cast("bigint").alias("chi2_nano"),
    ).select("n_rows", "n_segments", "n_priorities", "dof", "chi2_nano",
             (F.col("chi2_nano") / 1e9).alias("chi2"))


QUERIES["chi_square_independence"] = chi_square_independence

ORACLE_SQL["chi_square_independence"] = """
    WITH observed AS (
        SELECT c_mktsegment, o_orderpriority, count(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), cells AS (
        SELECT s.c_mktsegment, p.o_orderpriority,
               coalesce(o.n, 0) AS obs
        FROM (SELECT DISTINCT c_mktsegment FROM observed) s
        CROSS JOIN (SELECT DISTINCT o_orderpriority FROM observed) p
        LEFT JOIN observed o
          ON o.c_mktsegment = s.c_mktsegment
         AND o.o_orderpriority = p.o_orderpriority
    ), t AS (
        SELECT c_mktsegment, o_orderpriority, obs,
               sum(obs) OVER (PARTITION BY c_mktsegment) AS row_t,
               sum(obs) OVER (PARTITION BY o_orderpriority) AS col_t,
               sum(obs) OVER () AS n
        FROM cells
    ), per_cell AS (
        SELECT obs,
               c_mktsegment, o_orderpriority,
               CAST(floor(
                   CAST(CAST(obs AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                        - CAST(row_t AS DECIMAL(19,0))
                          * CAST(col_t AS DECIMAL(19,0)) AS DOUBLE)
                   * CAST(CAST(obs AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                          - CAST(row_t AS DECIMAL(19,0))
                            * CAST(col_t AS DECIMAL(19,0)) AS DOUBLE)
                   / ((CAST(n AS DOUBLE) * CAST(row_t AS DOUBLE))
                      * CAST(col_t AS DOUBLE))
                   * 1e9) AS BIGINT) AS term_nano
        FROM t
    )
    SELECT CAST(sum(obs) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST((count(DISTINCT c_mktsegment) - 1)
                * (count(DISTINCT o_orderpriority) - 1) AS BIGINT) AS dof,
           CAST(sum(term_nano) AS BIGINT) AS chi2_nano,
           CAST(sum(term_nano) AS DOUBLE) / 1e9 AS chi2
    FROM per_cell
"""


#: Kaplan-Meier time base: integer micro-seconds per day, so
#: durations are timezone-free integer day counts (no calendar
#: functions — a hostile session timezone cannot move a boundary).
KM_DAY_US = 86_400_000_000


def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup -> first-purchase
    conversion time, right-censored at the study end (the global max
    event timestamp). The product-limit estimator is THE standard
    time-to-event readout (churn, conversion latency); nothing in
    the catalog covered censored durations.

    Semantics: a subject is a user with >= 1 signup; t0 = earliest
    signup; the event is the earliest purchase at or after t0;
    users without one are censored at study end. Durations are
    floor((t_us - t0_us) DIV day_us) — pure integer arithmetic on
    unix microseconds, so the session timezone is irrelevant.

    Determinism contract: n_risk / n_events / n_censored are exact
    integers from windows over the tiny per-day table; each step's
    ln((n_risk-d)/n_risk) is floor-quantized to lp7 int64 BEFORE
    the cumulative sum, and that sum runs over an ORDERED window
    (fold order pinned by duration_day). survival re-exposes it as
    floor(exp(lp7/1e7)*1e6)/1e6 — one exp per row, the accepted
    last-ulp bound. A day where every remaining subject converts
    (n_events == n_risk) has survival exactly 0.0 and NULL lp7
    (ln(0) is not representable; documented sentinel).

    Shape: two event-type filtered aggregates keyed by user (ONE
    shuffle each, map-side combined), a broadcast one-row study-end
    scalar, a per-day rollup (<= observation-window days rows), then
    ordered windows on that tiny table. The unpartitioned windows
    never see raw events."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    us = F.unix_micros(F.col("ts"))
    sign = (ev.filter(F.col("event_type") == "signup")
            .groupBy("user_id").agg(F.min(us).alias("t0")))
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("pt"))
    per_user = (
        sign.join(pur, "user_id", "left")
        .groupBy("user_id", "t0")
        .agg(F.min(F.when(F.col("pt") >= F.col("t0"), F.col("pt")))
             .alias("first_pt"))
    )
    study_end = ev.agg(F.max(us).alias("end_us"))
    durations = (
        per_user.crossJoin(F.broadcast(study_end))
        .select(
            F.when(F.col("first_pt").isNotNull(), 1).otherwise(0)
            .alias("is_event"),
            F.expr(f"(coalesce(first_pt, end_us) - t0) "
                   f"div {KM_DAY_US}").alias("duration_day"))
    )
    days = (
        durations.groupBy("duration_day")
        .agg(F.sum("is_event").cast("bigint").alias("n_events"),
             F.sum(1 - F.col("is_event")).cast("bigint")
             .alias("n_censored"))
    )
    w_rem = (Window.orderBy("duration_day")
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    w_cum = (Window.orderBy("duration_day")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risked = days.withColumn(
        "n_risk", F.sum(F.col("n_events") + F.col("n_censored")).over(w_rem))
    term = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.floor(F.log((F.col("n_risk").cast("double")
                       - F.col("n_events").cast("double"))
                      / F.col("n_risk").cast("double")) * 1e7)
        .cast("long"))
    surv = risked.withColumn("term_lp7", term).withColumn(
        "log_surv_lp7",
        F.when(F.col("n_events") < F.col("n_risk"),
               F.sum("term_lp7").over(w_cum)))
    return (
        surv.filter(F.col("n_events") > 0)
        .select(
            "duration_day", "n_risk", "n_events", "n_censored",
            F.col("log_surv_lp7").cast("bigint").alias("log_surv_lp7"),
            F.when(F.col("log_surv_lp7").isNull(), F.lit(0.0))
            .otherwise(F.floor(F.exp(F.col("log_surv_lp7") / 1e7) * 1e6)
                       / 1e6).alias("survival"))
        .orderBy("duration_day")
    )


QUERIES["kaplan_meier_survival"] = kaplan_meier_survival

ORACLE_SQL["kaplan_meier_survival"] = f"""
    WITH sign AS (
        SELECT user_id, min(epoch_us(ts)) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ), pur AS (
        SELECT user_id, epoch_us(ts) AS pt
        FROM events WHERE event_type = 'purchase'
    ), per_user AS (
        SELECT s.user_id, s.t0,
               min(CASE WHEN p.pt >= s.t0 THEN p.pt END) AS first_pt
        FROM sign s LEFT JOIN pur p ON s.user_id = p.user_id
        GROUP BY 1, 2
    ), study AS (
        SELECT max(epoch_us(ts)) AS end_us FROM events
    ), durations AS (
        SELECT CASE WHEN first_pt IS NOT NULL THEN 1 ELSE 0 END
                   AS is_event,
               (coalesce(first_pt, end_us) - t0) // {KM_DAY_US}
                   AS duration_day
        FROM per_user, study
    ), days AS (
        SELECT duration_day,
               CAST(sum(is_event) AS BIGINT) AS n_events,
               CAST(sum(1 - is_event) AS BIGINT) AS n_censored
        FROM durations GROUP BY 1
    ), risked AS (
        SELECT duration_day, n_events, n_censored,
               sum(n_events + n_censored) OVER (
                   ORDER BY duration_day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS n_risk
        FROM days
    ), terms AS (
        SELECT *,
               CASE WHEN n_events < n_risk THEN
                   CAST(floor(ln((CAST(n_risk AS DOUBLE)
                                  - CAST(n_events AS DOUBLE))
                                 / CAST(n_risk AS DOUBLE)) * 1e7)
                        AS BIGINT)
               END AS term_lp7
        FROM risked
    ), cum AS (
        SELECT *,
               CASE WHEN n_events < n_risk THEN
                   sum(term_lp7) OVER (
                       ORDER BY duration_day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               END AS log_surv_lp7
        FROM terms
    )
    SELECT duration_day, CAST(n_risk AS BIGINT) AS n_risk,
           n_events, n_censored,
           CAST(log_surv_lp7 AS BIGINT) AS log_surv_lp7,
           CASE WHEN log_surv_lp7 IS NULL THEN 0.0
                ELSE floor(exp(CAST(log_surv_lp7 AS DOUBLE) / 1e7) * 1e6)
                     / 1e6
           END AS survival
    FROM cum
    WHERE n_events > 0
    ORDER BY duration_day
"""


#: Attribution lookback window (microseconds): a purchase credits
#: marketing touches (click/view) by the same user within the 24h
#: before it. Integer micros — timezone-free bucketing.
ATTR_WINDOW_US = 86_400_000_000


def revenue_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing revenue attribution over the event stream: each
    purchase's value is credited to the click/view touches by the
    same user in the 24h before it, under two standard models —
    last_touch (all credit to the latest touch) and linear (equal
    split). Emits one row per (model, touch_type) with exact
    integer micro-cents.

    Interval-join shape (the 100 TB story): touches carry ONE time
    bucket of width W; each purchase probes its own bucket and the
    previous one, so candidate generation is an EQUI-join on
    (user, bucket) with 2x purchase fan-out — never a range join's
    per-user cross product. Per-purchase windows (touch count,
    recency rank) run over groups bounded by per-user 24h event
    density. Purchases with no touch in the window carry no credit
    and are excluded by the inner join (documented).

    Exactness: value -> cents via DECIMAL(18,2)*100 (the house
    money contract); linear shares are (cents * 1e6) DIV n_touch —
    integer truncation, identical in both engines for non-negative
    operands; every output measure is a BIGINT sum of int64s, so
    the gate hash is exact with no float anywhere."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")
    us = F.unix_micros(F.col("ts"))
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select(F.col("user_id").alias("t_user"),
                us.alias("tts"),
                F.col("event_type").alias("touch_type"),
                F.col("event_id").alias("touch_id"),
                F.expr(f"unix_micros(ts) div {ATTR_WINDOW_US}")
                .alias("bucket"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                us.alias("pts"),
                F.col("event_id").alias("purchase_id"),
                (F.col("value").cast("decimal(18,2)") * 100)
                .cast("long").alias("value_cents"),
                F.expr(f"unix_micros(ts) div {ATTR_WINDOW_US}")
                .alias("p_bucket"))
        .select("*", F.explode(F.array(F.col("p_bucket"),
                                       F.col("p_bucket") - 1))
                .alias("probe_bucket"))
    )
    pairs = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("probe_bucket") == F.col("bucket"))
        & (F.col("tts") > F.col("pts") - ATTR_WINDOW_US)
        & (F.col("tts") <= F.col("pts")),
        "inner")
    w_p = Window.partitionBy("purchase_id")
    w_rank = w_p.orderBy(F.desc("tts"), F.desc("touch_id"))
    ranked = (pairs
              .withColumn("n_touch", F.count(F.lit(1)).over(w_p))
              .withColumn("recency_rank", F.row_number().over(w_rank)))
    last_touch = (
        ranked.filter(F.col("recency_rank") == 1)
        .groupBy("touch_type")
        .agg(F.sum(F.col("value_cents") * 1_000_000)
             .cast("bigint").alias("attributed_micro_cents"),
             F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
        .select(F.lit("last_touch").alias("model"), "touch_type",
                "attributed_micro_cents", "n_purchases")
    )
    linear = (
        ranked
        .withColumn("share_micro",
                    F.expr("(value_cents * 1000000) div n_touch"))
        .groupBy("touch_type")
        .agg(F.sum("share_micro").cast("bigint")
             .alias("attributed_micro_cents"),
             F.countDistinct("purchase_id").cast("bigint")
             .alias("n_purchases"))
        .select(F.lit("linear").alias("model"), "touch_type",
                "attributed_micro_cents", "n_purchases")
    )
    return last_touch.unionByName(linear).orderBy("model", "touch_type")


QUERIES["revenue_attribution"] = revenue_attribution

ORACLE_SQL["revenue_attribution"] = f"""
    WITH touches AS (
        SELECT user_id AS t_user, epoch_us(ts) AS tts,
               event_type AS touch_type, event_id AS touch_id,
               epoch_us(ts) // {ATTR_WINDOW_US} AS bucket
        FROM events WHERE event_type IN ('click', 'view')
    ), purchases AS (
        SELECT user_id AS p_user, epoch_us(ts) AS pts,
               event_id AS purchase_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS value_cents,
               unnest([epoch_us(ts) // {ATTR_WINDOW_US},
                       epoch_us(ts) // {ATTR_WINDOW_US} - 1])
                   AS probe_bucket
        FROM events WHERE event_type = 'purchase'
    ), pairs AS (
        SELECT p.purchase_id, p.value_cents, p.pts,
               t.tts, t.touch_type, t.touch_id
        FROM purchases p JOIN touches t
          ON p.p_user = t.t_user AND p.probe_bucket = t.bucket
         AND t.tts > p.pts - {ATTR_WINDOW_US} AND t.tts <= p.pts
    ), ranked AS (
        SELECT *,
               count(*) OVER (PARTITION BY purchase_id) AS n_touch,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY tts DESC, touch_id DESC)
                   AS recency_rank
        FROM pairs
    ), last_touch AS (
        SELECT 'last_touch' AS model, touch_type,
               CAST(sum(value_cents * 1000000) AS BIGINT)
                   AS attributed_micro_cents,
               CAST(count(*) AS BIGINT) AS n_purchases
        FROM ranked WHERE recency_rank = 1 GROUP BY 2
    ), linear AS (
        SELECT 'linear' AS model, touch_type,
               CAST(sum((value_cents * 1000000) // n_touch) AS BIGINT)
                   AS attributed_micro_cents,
               CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases
        FROM ranked GROUP BY 2
    )
    SELECT * FROM last_touch
    UNION ALL
    SELECT * FROM linear
    ORDER BY model, touch_type
"""


def _daily_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per order day: day (the _trend_day index), y (revenue
    cents), prefix (running sum of y), d (1-based day rank), n (day
    count), total (sum of y) and cusum_scaled = n*prefix - d*total,
    the exact DECIMAL(38,0) n*CUSUM_d. A map-side-combined daily
    rollup, then ordered windows over the tiny day table."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .select(_trend_day().alias("day"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").alias("cents"))
        .groupBy("day").agg(F.sum("cents").alias("y"))
    )
    w_cum = (Window.orderBy("day")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy()
    t = (daily
         .withColumn("prefix", F.sum("y").over(w_cum))
         .withColumn("d", F.row_number().over(Window.orderBy("day")))
         .withColumn("n", F.count(F.lit(1)).over(w_all))
         .withColumn("total", F.sum("y").over(w_all)))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return t.withColumn(
        "cusum_scaled", d38("n") * d38("prefix") - d38("d") * d38("total"))


def revenue_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over daily order revenue: the day
    d maximizing |sum_{i<=d}(y_i - mean)| — the standard level-shift
    detector (did revenue step up/down, and when?). Nothing in the
    catalog located WHERE a series changed; the OLS trend and
    seasonality index summarize the whole window.

    Exactness: the CUSUM statistic is kept FULLY integer by scaling
    out the mean's division — n*sum_{i<=d}(y_i) - d*total equals
    n*CUSUM_d, computed in DECIMAL(38,0) products of exact cent
    sums, so the argmax ordering compares exact integers (ties break
    to the earliest day). Means before/after the changepoint derive
    by one double division each, floored 4dp.

    Shape: one map-side-combined daily rollup (|days| groups), then
    ordered windows over the tiny day table (the
    monthly_revenue_running contract: the unpartitioned window never
    sees raw orders), TakeOrdered(1) for the argmax.

    Round-7 hardening (driver hash-red on first attestation, r6):
    changepoint_day was the catalog's only other absolute-calendar
    output — datediff(to_date(ts), epoch) shifts by exactly 1 under
    a non-UTC analysis timezone while every translation-invariant
    column stays put, which is precisely the red the gate recorded.
    The day index now derives from raw micros (_trend_day /
    operators/dates.epoch_day), twinned in the oracle.

    Round-8 ROOT CAUSE (the r7 red persisted with a green date-axis
    canary, falsifying the calendar theory): `cusum_scaled` was the
    gate's only DECIMAL(38,0) output — DuckDB's pandas fetch turns
    hugeint-backed decimals into float64 (str '5.5e14...'-style or
    trailing-'.0' renderings) while Spark collects exact Decimal;
    every local replica fetched via fetchall() (exact Decimal) and
    so could not reproduce. Both sides now emit the value as a
    digit STRING (Spark decimal→string and DuckDB decimal→VARCHAR
    render identically, the repo's first-digit-of-cents precedent),
    which is also the 100 TB-safe form: n*prefix exceeds int64 at
    ~1e16 total daily cents. See monthly_sales_retract's round-8
    note and tests/test_oracle_types.py for the catalog-wide ban."""
    pick = (_daily_cusum(spark, sf_dir)
            .orderBy(F.abs(F.col("cusum_scaled")).desc(), F.asc("day"))
            .limit(1))
    mean_before = (F.col("prefix").cast("double")
                   / F.col("d").cast("double"))
    mean_after = ((F.col("total") - F.col("prefix")).cast("double")
                  / F.nullif((F.col("n") - F.col("d")).cast("double"),
                             F.lit(0.0)))
    return pick.select(
        F.col("day").cast("int").alias("changepoint_day"),
        F.col("n").cast("bigint").alias("n_days"),
        F.col("cusum_scaled").cast("string").alias("cusum_scaled"),
        (F.floor(mean_before * 1e4) / 1e4).alias("mean_before_cents"),
        (F.floor(mean_after * 1e4) / 1e4).alias("mean_after_cents"))


QUERIES["revenue_cusum_changepoint"] = revenue_cusum_changepoint

ORACLE_SQL["revenue_cusum_changepoint"] = f"""
    WITH daily AS (
        SELECT {_sql_trend_day()} AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), t AS (
        SELECT day, y,
               sum(y) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS prefix,
               row_number() OVER (ORDER BY day) AS d,
               count(*) OVER () AS n,
               sum(y) OVER () AS total
        FROM daily
    ), scored AS (
        SELECT *,
               CAST(n AS DECIMAL(38,0)) * CAST(prefix AS DECIMAL(38,0))
               - CAST(d AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0))
                   AS cusum_scaled
        FROM t
    )
    , picked AS (
        SELECT * FROM scored
        ORDER BY abs(cusum_scaled) DESC, day ASC LIMIT 1
    )
    SELECT CAST(day AS INTEGER) AS changepoint_day,
           CAST(n AS BIGINT) AS n_days,
           CAST(cusum_scaled AS VARCHAR) AS cusum_scaled,
           floor(CAST(prefix AS DOUBLE) / CAST(d AS DOUBLE) * 1e4) / 1e4
               AS mean_before_cents,
           floor(CAST(total - prefix AS DOUBLE)
                 / nullif(CAST(n - d AS DOUBLE), 0.0) * 1e4) / 1e4
               AS mean_after_cents
    FROM picked
"""


def cusum_daily_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 bisection canary (round-7 verdict task #1): the daily
    sufficient statistics of revenue_cusum_changepoint in isolation —
    the top-5 days by |n*prefix - d*total| with every intermediate
    (day index, rank d, n, daily cents y, prefix sum) as plain
    BIGINTs, no DECIMAL(38,0) anywhere in the OUTPUT (the ordering
    key is still the exact decimal product). If the parent reds
    while this is green, the divergence is confined to the argmax
    row's non-BIGINT columns or the canonicalizer; if this reds, the
    prefix/rank layer itself diverges. All five output columns are
    exact integers identical by construction in both engines."""
    return (_daily_cusum(spark, sf_dir)
            .orderBy(F.abs(F.col("cusum_scaled")).desc(), F.asc("day"))
            .limit(5)
            .select(F.col("day").cast("long").alias("day"),
                    F.col("d").cast("long").alias("d"),
                    F.col("n").cast("long").alias("n"),
                    F.col("y").cast("long").alias("y"),
                    F.col("prefix").cast("long").alias("prefix")))


QUERIES["cusum_daily_canary"] = cusum_daily_canary

ORACLE_SQL["cusum_daily_canary"] = f"""
    WITH daily AS (
        SELECT {_sql_trend_day()} AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), t AS (
        SELECT day, y,
               sum(y) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS prefix,
               row_number() OVER (ORDER BY day) AS d,
               count(*) OVER () AS n,
               sum(y) OVER () AS total
        FROM daily
    ), scored AS (
        SELECT *,
               CAST(n AS DECIMAL(38,0)) * CAST(prefix AS DECIMAL(38,0))
               - CAST(d AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0))
                   AS cusum_scaled
        FROM t
    ), picked AS (
        SELECT * FROM scored
        ORDER BY abs(cusum_scaled) DESC, day ASC LIMIT 5
    )
    SELECT CAST(day AS BIGINT) AS day, CAST(d AS BIGINT) AS d,
           CAST(n AS BIGINT) AS n, CAST(y AS BIGINT) AS y,
           CAST(prefix AS BIGINT) AS prefix
    FROM picked
"""


#: PSI binning/smoothing geometry: 10 equal-width bins over the
#: observed cent range, Laplace (+1) smoothing so empty bins are
#: well-defined (the standard industry PSI recipe).
PSI_BINS = 10


def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event value distribution:
    first half of the observation window (reference) vs second half
    (current) — the ML-ops drift audit ("did the metric's
    distribution move?"). Emits one row per bin with exact counts
    and the bin's nano-quantized PSI term; sum(term_nano)/1e9 is the
    PSI.

    Determinism: the window split (epoch-micros midpoint) and the
    bin index ((cents-min)*10 DIV (range+1), provably in 0..9) are
    pure integer arithmetic; smoothed proportions are single
    divisions of exact ints; each bin's (p-q)*ln(p/q) is
    floor-quantized to 1e9 BEFORE any cross-bin use. Empty bins are
    materialized from a literal 0..9 spine (the chi-square zero-cell
    lesson) so both sides always emit exactly PSI_BINS rows.

    Shape: one scalar agg over the scan (min/max cents, window
    midpoint), broadcast; one (bin, side) hash agg — 20 final
    groups, map-side combined; then literal-spine joins on tiny
    frames. One pass over big data."""
    ev = read_table(spark, sf_dir, "events").select("ts", "value")
    us = F.unix_micros(F.col("ts"))
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    rows = ev.select(us.alias("us"), cents.alias("cents"))
    scal = rows.agg(
        F.min("cents").alias("min_c"), F.max("cents").alias("max_c"),
        # floor-division in BOTH engines: Spark's double->long cast
        # truncates while DuckDB's CAST(... AS BIGINT) rounds, so an
        # odd min+max would place the ref/cur split 1us apart across
        # engines — integer floor on non-negative sums is identical.
        F.floor((F.min("us") + F.max("us")) / 2)
        .cast("long").alias("mid_us"))
    binned = (
        rows.crossJoin(F.broadcast(scal))
        .select(
            F.when(F.col("us") <= F.col("mid_us"), F.lit("ref"))
            .otherwise(F.lit("cur")).alias("side"),
            F.least(
                F.expr(f"((cents - min_c) * {PSI_BINS}) "
                       f"div (max_c - min_c + 1)"),
                F.lit(PSI_BINS - 1)).alias("bin"))
        .groupBy("side", "bin").agg(F.count(F.lit(1)).alias("n"))
    )
    spine = (spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(PSI_BINS - 1))).alias("b"))
        .select(F.col("b").cast("long").alias("bin")))
    ref = binned.filter(F.col("side") == "ref").select(
        "bin", F.col("n").alias("n_ref"))
    cur = binned.filter(F.col("side") == "cur").select(
        "bin", F.col("n").alias("n_cur"))
    cells = (spine.join(ref, "bin", "left").join(cur, "bin", "left")
             .select("bin",
                     F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
                     F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur")))
    w_all = Window.partitionBy()
    t = (cells
         .withColumn("tot_ref", F.sum("n_ref").over(w_all))
         .withColumn("tot_cur", F.sum("n_cur").over(w_all)))
    p = ((F.col("n_ref") + 1).cast("double")
         / (F.col("tot_ref") + PSI_BINS).cast("double"))
    q = ((F.col("n_cur") + 1).cast("double")
         / (F.col("tot_cur") + PSI_BINS).cast("double"))
    return (t.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.floor((p - q) * F.log(p / q) * 1e9).cast("bigint")
        .alias("term_nano"))
        .orderBy("bin"))


QUERIES["events_value_psi"] = events_value_psi

ORACLE_SQL["events_value_psi"] = f"""
    WITH rows_ AS (
        SELECT epoch_us(ts) AS us,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM events
    ), scal AS (
        SELECT min(cents) AS min_c, max(cents) AS max_c,
               (min(us) + max(us)) // 2 AS mid_us
        FROM rows_
    ), binned AS (
        SELECT CASE WHEN us <= mid_us THEN 'ref' ELSE 'cur' END AS side,
               least(((cents - min_c) * {PSI_BINS})
                     // (max_c - min_c + 1), {PSI_BINS - 1}) AS bin,
               count(*) AS n
        FROM rows_, scal GROUP BY 1, 2
    ), spine AS (
        SELECT CAST(range AS BIGINT) AS bin FROM range({PSI_BINS})
    ), cells AS (
        SELECT s.bin,
               coalesce((SELECT n FROM binned b
                         WHERE b.side = 'ref' AND b.bin = s.bin), 0)
                   AS n_ref,
               coalesce((SELECT n FROM binned b
                         WHERE b.side = 'cur' AND b.bin = s.bin), 0)
                   AS n_cur
        FROM spine s
    ), t AS (
        SELECT *,
               sum(n_ref) OVER () AS tot_ref,
               sum(n_cur) OVER () AS tot_cur
        FROM cells
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(floor(
               (CAST(n_ref + 1 AS DOUBLE) / CAST(tot_ref + {PSI_BINS}
                                                 AS DOUBLE)
                - CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + {PSI_BINS}
                                                   AS DOUBLE))
               * ln((CAST(n_ref + 1 AS DOUBLE)
                     / CAST(tot_ref + {PSI_BINS} AS DOUBLE))
                    / (CAST(n_cur + 1 AS DOUBLE)
                       / CAST(tot_cur + {PSI_BINS} AS DOUBLE)))
               * 1e9) AS BIGINT) AS term_nano
    FROM t ORDER BY bin
"""


def user_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user: each event's
    value holds until the user's next event (the step-function /
    last-observation-carried-forward reading of the stream), the
    final one until the global study end. TWAP is the standard
    fix for irregular sampling — a plain avg() overweights bursts;
    nothing else in the catalog weights by holding DURATION.

    Exactness: durations are integer micros from lead(ts) over the
    per-user ordered window; value_cents * dur_us products run in
    DECIMAL(38,0) (cents * window-micros overflows int64), both
    sums are exact, and the TWAP is ONE double division floored to
    4dp. Ties on ts break by event_id in the window order.

    Shape: one shuffle keyed by user (window lead + group agg share
    it), a broadcast one-row study-end scalar. Per-user state is a
    running pair of exact sums — no skew beyond per-user event
    counts."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value")
    us = F.unix_micros(F.col("ts"))
    rows = ev.select(
        "user_id", F.col("event_id").alias("eid"), us.alias("us"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    study_end = rows.agg(F.max("us").alias("end_us"))
    w = Window.partitionBy("user_id").orderBy("us", "eid")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    timed = (
        rows.crossJoin(F.broadcast(study_end))
        .withColumn("dur_us",
                    F.coalesce(F.lead("us").over(w), F.col("end_us"))
                    - F.col("us"))
    )
    return (
        timed.groupBy("user_id")
        .agg(F.sum(d38(F.col("cents")) * d38(F.col("dur_us")))
             .alias("wsum"),
             F.sum(d38(F.col("dur_us"))).alias("wtot"),
             F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .filter(F.col("wtot") > 0)
        .select("user_id", "n_events",
                (F.floor(F.col("wsum").cast("double")
                         / F.col("wtot").cast("double") * 1e4) / 1e4)
                .alias("twap_cents"))
        .orderBy("user_id")
    )


QUERIES["user_value_twap"] = user_value_twap

ORACLE_SQL["user_value_twap"] = """
    WITH rows_ AS (
        SELECT user_id, event_id AS eid, epoch_us(ts) AS us,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM events
    ), study AS (
        SELECT max(us) AS end_us FROM rows_
    ), timed AS (
        SELECT user_id, cents,
               coalesce(lead(us) OVER (PARTITION BY user_id
                                       ORDER BY us, eid), end_us) - us
                   AS dur_us
        FROM rows_, study
    ), agg AS (
        SELECT user_id,
               sum(CAST(cents AS DECIMAL(38,0))
                   * CAST(dur_us AS DECIMAL(38,0))) AS wsum,
               sum(CAST(dur_us AS DECIMAL(38,0))) AS wtot,
               CAST(count(*) AS BIGINT) AS n_events
        FROM timed GROUP BY 1
    )
    SELECT user_id, n_events,
           floor(CAST(wsum AS DOUBLE) / CAST(wtot AS DOUBLE) * 1e4)
               / 1e4 AS twap_cents
    FROM agg WHERE wtot > 0 ORDER BY user_id
"""


#: Autocorrelation lags reported by revenue_autocorrelation (a week
#: of daily lags — enough to expose weekly seasonality).
ACF_MAX_LAG = 7


def revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily order revenue at lags 1..7
    — the time-series diagnostic behind seasonality detection ("does
    revenue echo itself a week later?"). Complements the OLS trend
    (global slope) and CUSUM (single break) with dependence
    STRUCTURE; days are indexed by row_number so calendar gaps don't
    misalign lags.

    Exactness: with y exact cents, every moment (S_k = sum y_t*y_{t+k},
    P_k/Q_k marginal sums, global n/Sy/Syy) is an exact DECIMAL(38,0);
    r_k's numerator and denominator are scaled by n^2 to clear the
    mean's division — n^2*S_k - n*Sy*(P_k+Q_k) + m_k*Sy^2 over
    n*(n*Syy - Sy^2) — so ONE double division (floored 6dp) is the
    only inexact step. Fits DECIMAL(38,0) through ~1e11-cent days
    across ~10^4 days (1e32 << 1e38).

    Shape: one map-side daily rollup, a 7-row literal lag spine
    cross-joined (broadcast) and equi-joined back to the day table
    on d+lag, per-lag hash agg, one-row global moments broadcast.
    Every post-rollup frame is |days|- or |lags|-sized."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .select(_trend_day().alias("day"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").alias("cents"))
        .groupBy("day").agg(F.sum("cents").alias("y"))
        .withColumn("d", F.row_number().over(Window.orderBy("day")))
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    glob = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d38(F.col("y"))).alias("sy"),
        F.sum(d38(F.col("y")) * d38(F.col("y"))).alias("syy"))
    spine = (spark.range(1).select(
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("l"))
        .select(F.col("l").cast("int").alias("lag")))
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    pairs = (a.crossJoin(F.broadcast(spine))
             .join(b, F.col("da") + F.col("lag") == F.col("db")))
    moments = (
        pairs.groupBy("lag")
        .agg(F.sum(d38(F.col("ya")) * d38(F.col("yb"))).alias("sk"),
             F.sum(d38(F.col("ya"))).alias("pk"),
             F.sum(d38(F.col("yb"))).alias("qk"),
             F.count(F.lit(1)).cast("long").alias("m"))
        .crossJoin(F.broadcast(glob))
    )
    n38 = d38(F.col("n"))
    num = (n38 * n38 * F.col("sk")
           - n38 * F.col("sy") * (F.col("pk") + F.col("qk"))
           + d38(F.col("m")) * F.col("sy") * F.col("sy"))
    den = n38 * (n38 * F.col("syy") - F.col("sy") * F.col("sy"))
    return (moments.select(
        "lag", F.col("m").cast("bigint").alias("n_pairs"),
        (F.floor(num.cast("double")
                 / F.nullif(den.cast("double"), F.lit(0.0)) * 1e6)
         / 1e6).alias("acf"))
        .orderBy("lag"))


QUERIES["revenue_autocorrelation"] = revenue_autocorrelation

ORACLE_SQL["revenue_autocorrelation"] = f"""
    WITH daily AS (
        SELECT day, y, row_number() OVER (ORDER BY day) AS d
        FROM (
            SELECT {_sql_trend_day()} AS day,
                   CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                 * 100 AS BIGINT)) AS BIGINT) AS y
            FROM orders GROUP BY 1
        )
    ), gstats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy
        FROM daily
    ), spine AS (
        SELECT CAST(range AS INTEGER) AS lag
        FROM range(1, {ACF_MAX_LAG + 1})
    ), moments AS (
        SELECT lag,
               sum(CAST(a.y AS DECIMAL(38,0))
                   * CAST(b.y AS DECIMAL(38,0))) AS sk,
               sum(CAST(a.y AS DECIMAL(38,0))) AS pk,
               sum(CAST(b.y AS DECIMAL(38,0))) AS qk,
               CAST(count(*) AS BIGINT) AS m
        FROM daily a CROSS JOIN spine
        JOIN daily b ON a.d + lag = b.d
        GROUP BY 1
    )
    SELECT lag, m AS n_pairs,
           floor((CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
                      * sk
                  - CAST(n AS DECIMAL(38,0)) * sy * (pk + qk)
                  + CAST(m AS DECIMAL(38,0)) * sy * sy)::DOUBLE
                 / nullif((CAST(n AS DECIMAL(38,0))
                           * (CAST(n AS DECIMAL(38,0)) * syy
                              - sy * sy))::DOUBLE, 0.0)
                 * 1e6) / 1e6 AS acf
    FROM moments, gstats ORDER BY lag
"""


def categorical_entropy_profile(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Shannon entropy of the catalog's categorical columns (event
    type, document source, document language, customer segment) —
    the information-content audit behind feature selection and
    drift baselines ("how concentrated is this column?"). The
    chi-square entry measures cross-column ASSOCIATION; this is the
    marginal-distribution complement.

    Exactness: category counts are integers; each category's
    -(n/N)*ln(n/N) term is floor-quantized to nano-units BEFORE the
    cross-category sum (int64 fold, order-free); normalized entropy
    divides by ln(k) in one final double chain, floored 6dp (k=1
    columns yield NULL via nullif — a constant column has no
    normalizable entropy).

    Shape: one map-side-combined count agg per source column (each
    |categories|-sized), a per-column window total, then a 4-row
    union. One narrow scan per table."""
    def profile(df, col, label):
        counts = (df.select(F.col(col).alias("cat"))
                  .groupBy("cat").agg(F.count(F.lit(1)).alias("n_cat")))
        w = Window.partitionBy()
        t = (counts
             .withColumn("n_rows", F.sum("n_cat").over(w))
             .withColumn("k", F.count(F.lit(1)).over(w)))
        p = F.col("n_cat").cast("double") / F.col("n_rows").cast("double")
        return (t.withColumn("term_nano",
                             F.floor(-p * F.log(p) * 1e9).cast("long"))
                .groupBy("n_rows", "k")
                .agg(F.sum("term_nano").alias("entropy_nano"))
                .select(F.lit(label).alias("column_name"),
                        F.col("n_rows").cast("bigint").alias("n_rows"),
                        F.col("k").cast("bigint").alias("n_categories"),
                        F.col("entropy_nano").cast("bigint")
                        .alias("entropy_nano"),
                        (F.floor(F.col("entropy_nano") / 1e9
                                 / F.nullif(F.log(F.col("k")
                                                  .cast("double")),
                                            F.lit(0.0)) * 1e6) / 1e6)
                        .alias("normalized")))

    ev = read_table(spark, sf_dir, "events")
    docs = read_table(spark, sf_dir, "documents")
    cust = read_table(spark, sf_dir, "customer")
    out = (profile(ev, "event_type", "events.event_type")
           .unionByName(profile(docs, "source", "documents.source"))
           .unionByName(profile(docs, "lang", "documents.lang"))
           .unionByName(profile(cust, "c_mktsegment",
                                "customer.c_mktsegment")))
    return out.orderBy("column_name")


QUERIES["categorical_entropy_profile"] = categorical_entropy_profile

_ENTROPY_ONE = """
    SELECT '{label}' AS column_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(k AS BIGINT) AS n_categories,
           CAST(sum(term_nano) AS BIGINT) AS entropy_nano,
           floor(CAST(sum(term_nano) AS DOUBLE) / 1e9
                 / nullif(ln(CAST(k AS DOUBLE)), 0.0) * 1e6) / 1e6
               AS normalized
    FROM (
        SELECT n_cat,
               sum(n_cat) OVER () AS n_rows,
               count(*) OVER () AS k,
               CAST(floor(-(CAST(n_cat AS DOUBLE)
                            / sum(n_cat) OVER ())
                          * ln(CAST(n_cat AS DOUBLE)
                               / sum(n_cat) OVER ()) * 1e9)
                    AS BIGINT) AS term_nano
        FROM (SELECT {col} AS cat, count(*) AS n_cat
              FROM {table} GROUP BY 1)
    )
    GROUP BY n_rows, k
"""

ORACLE_SQL["categorical_entropy_profile"] = " UNION ALL ".join([
    _ENTROPY_ONE.format(label="events.event_type", col="event_type",
                        table="events"),
    _ENTROPY_ONE.format(label="documents.source", col="source",
                        table="documents"),
    _ENTROPY_ONE.format(label="documents.lang", col="lang",
                        table="documents"),
    _ENTROPY_ONE.format(label="customer.c_mktsegment",
                        col="c_mktsegment", table="customer"),
]) + " ORDER BY column_name"


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Distributed 2-D skyline: the rows not dominated on
    (x_col ASC, y_col DESC) — keep r iff no other row has
    x <= r.x AND y >= r.y with at least one strict. Exact for any
    orderable column types; ties in BOTH dims survive together
    (neither dominates). Caller guarantees x_col is numeric (the
    RANGE frame needs it) and comparisons are exact types (int /
    decimal) — float x/y would put cross-engine ulp on the frontier
    boundary.

    Two phases, both the same O(n log n) window sweep: phase 1 runs
    it WITHIN each input partition (keyed by spark_partition_id — a
    locally dominated row is globally dominated, so dropping it is
    always safe) shrinking n rows to ~the per-partition frontier;
    phase 2 re-runs it globally over only those candidates, so the
    unpartitioned window stage is O(frontier), never O(n). The sweep
    is pure window algebra: survive iff y > max(y) over strictly
    smaller x (RANGE frame) and y = max(y) within equal x — no
    quadratic dominance join anywhere."""
    def sweep(d: DataFrame, *part_cols: str) -> DataFrame:
        w_lt = (Window.partitionBy(*part_cols).orderBy(x_col)
                .rangeBetween(Window.unboundedPreceding, -1)
                if part_cols else
                Window.orderBy(x_col)
                .rangeBetween(Window.unboundedPreceding, -1))
        w_eq = Window.partitionBy(*part_cols, x_col)
        return (d.withColumn("__mx_lt", F.max(y_col).over(w_lt))
                .withColumn("__mx_eq", F.max(y_col).over(w_eq))
                .filter((F.col("__mx_lt").isNull()
                         | (F.col(y_col) > F.col("__mx_lt")))
                        & (F.col(y_col) == F.col("__mx_eq")))
                .drop("__mx_lt", "__mx_eq"))

    local = sweep(df.withColumn("__pid", F.spark_partition_id()),
                  "__pid").drop("__pid")
    return sweep(local)


def supplier_efficiency_frontier(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query — the classic multi-criteria
    OLAP operator (Börzsönyi et al., ICDE'01) the reference's
    single-measure top-k (A3) cannot express: the suppliers NOT
    dominated on (avg ship latency ASC, shipped revenue DESC). A
    supplier is on the frontier iff no other supplier is at least as
    fast AND earns at least as much, with one strictly better — the
    procurement short-list where a plain ORDER BY on either measure
    alone buries the trade-off.

    Determinism: latency is the 4dp-floored integer
    floor(sum_days * 1e4 / n_items) (day counts are exact ints, the
    scaled double division is < 2^53 so IEEE-exact in both engines);
    revenue is an exact DECIMAL(18,2) sum (the doubles are 2dp money,
    the cast recovers exact cents identically in both engines), so
    every dominance comparison is integer/decimal-exact — no ulp can
    move a point on or off the frontier.

    Shape & scale: one fact-fact shuffle (lineitem⋈orders, the pair
    you bucket at warehouse scale) planned as a SHUFFLED HASH join —
    orders is far smaller than lineitem but too big to broadcast, so
    hashing the orders partition beats SORTING both sides (measured
    10.1s → 3.5s at sf1; the SMJ sort of 6M lineitem rows was the
    whole gap). Per-partition build memory is |orders|/shuffle
    partitions — the quantity you size partitions for anyway — and
    AQE still handles skew on the probe side. Then a per-supplier
    hash agg feeds
    the distributed two-phase skyline: phase 1 runs the 2-D sweep
    WITHIN each partition (windows keyed by spark_partition_id — a
    locally dominated point is globally dominated, so this is a safe
    parallel pre-filter that shrinks |suppliers| rows to roughly the
    per-partition frontier size); phase 2 re-runs the identical sweep
    globally over only the surviving candidates, so the single
    unpartitioned window stage is O(frontier), never O(suppliers).
    The sweep itself is pure window algebra — on the frontier iff
    rev > max(rev) over strictly-smaller latencies (RANGE frame) and
    rev = max(rev) within the same latency — no quadratic dominance
    join anywhere."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
    orders = (read_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_orderdate")
              .hint("shuffle_hash"))
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name")

    rev_term = (F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)")
                   - F.col("l_discount").cast("decimal(18,2)")))
    per_s = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum(epoch_day("l_shipdate") - epoch_day("o_orderdate"))
             .alias("tot_lat"),
             F.sum(rev_term).alias("rev"))
        .withColumn("lat_e4",
                    F.floor(F.col("tot_lat").cast("double") * 1e4
                            / F.col("n_items").cast("double"))
                    .cast("long"))
    )

    frontier = skyline_2d(per_s, "lat_e4", "rev")
    return (
        frontier.join(F.broadcast(supp),
                      frontier.l_suppkey == supp.s_suppkey)
        .select(F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
                "s_name",
                F.col("n_items").cast("bigint").alias("n_items"),
                F.col("lat_e4").cast("bigint").alias("lat_e4"),
                (F.floor(F.col("rev") * 100) / 100)
                .cast("double").alias("revenue"))
        .orderBy("lat_e4")
    )


QUERIES["supplier_efficiency_frontier"] = supplier_efficiency_frontier

ORACLE_SQL["supplier_efficiency_frontier"] = """
    WITH per_s AS (
        SELECT l.l_suppkey AS suppkey,
               count(*) AS n_items,
               sum(date_diff('day', o.o_orderdate, l.l_shipdate))
                   AS tot_lat,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2))
                      - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    ), q AS (
        SELECT suppkey, n_items, rev,
               CAST(floor(CAST(tot_lat AS DOUBLE) * 1e4
                          / CAST(n_items AS DOUBLE)) AS BIGINT)
                   AS lat_e4
        FROM per_s
    ), w AS (
        SELECT *,
               max(rev) OVER (ORDER BY lat_e4
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS mx_lt,
               max(rev) OVER (PARTITION BY lat_e4) AS mx_eq
        FROM q
    )
    SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
           CAST(w.n_items AS BIGINT) AS n_items,
           CAST(w.lat_e4 AS BIGINT) AS lat_e4,
           CAST(floor(w.rev * 100) / 100 AS DOUBLE) AS revenue
    FROM w JOIN supplier s ON s.s_suppkey = w.suppkey
    WHERE (w.mx_lt IS NULL OR w.rev > w.mx_lt) AND w.rev = w.mx_eq
    ORDER BY lat_e4
"""


def revenue_trend_theil_sen(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Theil–Sen robust revenue trend: the MEDIAN of all pairwise
    daily-revenue slopes — the estimator a capacity planner reaches
    for when revenue_trend_ols is dragged around by promo-day
    outliers (OLS breaks down at one bad point; Theil–Sen tolerates
    ~29% contamination). Returned next to nothing else so the two
    trend queries read as a pair: same daily frame, same epoch, same
    slope units.

    Determinism: x is the integer day number (TREND_EPOCH), y exact
    integer cents; each pairwise slope is quantized ONCE as
    floor(dy * 100 / dx) — dy*100 stays under 2^53 up to ~1e13
    daily cents (SF ~1e5), so the double division is IEEE-exact in
    both engines and every slope is an exact integer in 0.01-cent
    units. The median interpolates at worst to x.5 (exact), and the
    final unit change divides by 100 — no float fold anywhere.

    Shape & scale: the daily rollup is |days| groups (map-side
    combined); the pairwise self-join is O(|days|^2) BY DESIGN —
    days is the CALENDAR dimension, bounded by the observation span
    (~2.4k days -> ~3M pairs) and INDEPENDENT of row count, so the
    quadratic term does not grow with corpus size; the median is one
    exact percentile over those pairs. The inequality self-join
    plans as a broadcast nested loop over the tiny daily frame —
    bounded-by-design, like the scalar-count crossJoins."""
    from simpleetlpipeline_spark.cache import track

    # persisted: the tiny |days|-row rollup feeds BOTH sides of the
    # pairwise join plus the n_days count — without it the full
    # orders scan+agg would run three times
    daily = track(
        read_table(spark, sf_dir, "orders")
        .select(_trend_day().alias("x"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").alias("cents"))
        .groupBy("x").agg(F.sum("cents").alias("y"))
        .persist())
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.join(b, F.col("xb") > F.col("xa"))
        .select(F.floor((F.col("yb") - F.col("ya")).cast("double") * 100
                        / (F.col("xb") - F.col("xa")).cast("double"))
                .cast("long").alias("slope_e2"))
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        slopes.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.percentile("slope_e2", F.lit(0.5)).alias("__p50"))
        .crossJoin(F.broadcast(n_days))
        .select(F.col("n_days").cast("bigint").alias("n_days"),
                F.col("n_pairs").cast("bigint").alias("n_pairs"),
                (F.floor(F.col("__p50") / 100 * 1e6) / 1e6)
                .alias("slope_cents_per_day"))
    )


QUERIES["revenue_trend_theil_sen"] = revenue_trend_theil_sen

ORACLE_SQL["revenue_trend_theil_sen"] = f"""
    WITH daily AS (
        SELECT {_sql_trend_day()} AS x,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), slopes AS (
        SELECT CAST(floor(CAST(b.y - a.y AS DOUBLE) * 100
                          / CAST(b.x - a.x AS DOUBLE)) AS BIGINT)
                   AS slope_e2
        FROM daily a JOIN daily b ON b.x > a.x
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(quantile_cont(CAST(slope_e2 AS DOUBLE), 0.5)
                 / 100 * 1e6) / 1e6 AS slope_cents_per_day
    FROM slopes
"""


def event_hour_mutual_information(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour of day — the
    information-theoretic dependence measure next to the chi-square
    TEST (chi_square_independence): chi-square answers 'is the
    dependence statistically real', MI answers 'how many nats does
    knowing the hour tell you about what users do'. Also reports
    normalized MI (MI / min(H_type, H_hour)), the 0..1 form feature
    selectors rank by.

    Unlike chi-square/PSI, EMPTY cells are exactly zero MI terms
    (p*ln(...) -> 0 as p -> 0), so the groupBy dropping unobserved
    (type, hour) pairs is exact — no grid materialization needed
    (the ZERO-CELL hazard documented for the contingency tests does
    not apply here).

    Determinism: every count is an exact int64; each cell's term
    (n_ij/N) * ln((n_ij/n_i) * (N/n_j)) is quantized ONCE to nano
    int64 (the lp7 pattern — ratios-of-ints in a fixed IEEE chain,
    identical doubles in both engines), entropies likewise, and the
    sums fold integers. The ln argument is computed as a product of
    two bounded ratios so no intermediate exceeds 2^53 at any SF.

    Shape: one scan + one hash agg to the |types| x 24 cell table
    (persisted: it feeds both margins, the total, and the term sum);
    everything downstream is cell-cardinality-sized with broadcast
    joins. One shuffle over the fact, total."""
    from simpleetlpipeline_spark.cache import track

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", hour_of("ts").alias("h"))
    cells = track(
        ev.groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("nij")).persist())
    mt = cells.groupBy("event_type").agg(F.sum("nij").alias("ni"))
    mh = cells.groupBy("h").agg(F.sum("nij").alias("nj"))
    tot = cells.agg(F.sum("nij").alias("n"))

    nij = F.col("nij").cast("double")
    ni = F.col("ni").cast("double")
    nj = F.col("nj").cast("double")
    nn = F.col("n").cast("double")
    term = (nij / nn) * F.log((nij / ni) * (nn / nj))
    mi = (cells.join(F.broadcast(mt), "event_type")
          .join(F.broadcast(mh), "h")
          .crossJoin(F.broadcast(tot))
          .agg(F.sum(F.floor(term * 1e9).cast("long")).alias("mi_nano"),
               F.count(F.lit(1)).alias("n_cells"),
               F.max("n").alias("n_events")))

    def entropy_nano(margin: DataFrame, cnt: str):
        p = F.col(cnt).cast("double") / F.col("n").cast("double")
        return (margin.crossJoin(F.broadcast(tot))
                .agg(F.sum(F.floor(-p * F.log(p) * 1e9).cast("long"))
                     .alias(f"h_{cnt}")))

    ht, hh = entropy_nano(mt, "ni"), entropy_nano(mh, "nj")
    nmi = (F.col("mi_nano").cast("double")
           / F.least("h_ni", "h_nj").cast("double"))
    return (
        mi.crossJoin(F.broadcast(ht)).crossJoin(F.broadcast(hh))
        .select(F.col("n_events").cast("bigint").alias("n_events"),
                F.col("n_cells").cast("bigint").alias("n_cells"),
                F.col("mi_nano").cast("bigint").alias("mi_nano"),
                F.col("h_ni").cast("bigint").alias("h_type_nano"),
                F.col("h_nj").cast("bigint").alias("h_hour_nano"),
                (F.floor(nmi * 1e6) / 1e6).alias("nmi"))
    )


QUERIES["event_hour_mutual_information"] = event_hour_mutual_information

ORACLE_SQL["event_hour_mutual_information"] = """
    WITH cells AS (
        SELECT event_type AS t, CAST(hour(ts) AS INT) AS h,
               count(*) AS nij
        FROM events GROUP BY 1, 2
    ), mt AS (
        SELECT t, CAST(sum(nij) AS BIGINT) AS ni FROM cells GROUP BY 1
    ), mh AS (
        SELECT h, CAST(sum(nij) AS BIGINT) AS nj FROM cells GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(nij) AS BIGINT) AS n FROM cells
    ), mi AS (
        SELECT CAST(sum(CAST(floor(
                   (CAST(c.nij AS DOUBLE) / CAST(tot.n AS DOUBLE))
                   * ln((CAST(c.nij AS DOUBLE) / CAST(mt.ni AS DOUBLE))
                        * (CAST(tot.n AS DOUBLE)
                           / CAST(mh.nj AS DOUBLE))) * 1e9)
                   AS BIGINT)) AS BIGINT) AS mi_nano,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(max(tot.n) AS BIGINT) AS n_events
        FROM cells c
        JOIN mt ON c.t = mt.t
        JOIN mh ON c.h = mh.h
        CROSS JOIN tot
    ), ht AS (
        SELECT CAST(sum(CAST(floor(
                   -(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9)
                   AS BIGINT)) AS BIGINT) AS h_type_nano
        FROM mt CROSS JOIN tot
    ), hh AS (
        SELECT CAST(sum(CAST(floor(
                   -(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9)
                   AS BIGINT)) AS BIGINT) AS h_hour_nano
        FROM mh CROSS JOIN tot
    )
    SELECT n_events, n_cells, mi_nano, h_type_nano, h_hour_nano,
           floor(CAST(mi_nano AS DOUBLE)
                 / CAST(least(h_type_nano, h_hour_nano) AS DOUBLE)
                 * 1e6) / 1e6 AS nmi
    FROM mi CROSS JOIN ht CROSS JOIN hh
"""


# Bloom-filter semi-join reduction -----------------------------------
#
# 63 usable bits per int64 word (bit 63 never set: DuckDB's checked
# `<<` rejects 1<<63, and staying in 0..62 keeps every word
# non-negative so arithmetic vs logical right-shift can't differ).
_BLOOM_P = 2_147_483_647          # 2^31 - 1, prime
_BLOOM_M = 1_048_576              # filter size in bits (~128 KiB)
_BLOOM_HASHES = ((1597334677, 15487469),
                 (1203793907, 28491121),
                 (784387469, 37482901))


def _bloom_pos(key, a: int, b: int):
    """Position of one hash: ((key mod P) * a + b) mod P mod M.
    key mod P first so the product is bounded by 2^62 at ANY scale
    factor (custkey grows with SF); every operand non-negative, so
    Spark % == DuckDB % and the doubles never enter the chain."""
    return ((key % _BLOOM_P) * a + b) % _BLOOM_P % _BLOOM_M


def bloom_semijoin_reduction(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: build a 1 Mbit / 3-hash
    Bloom filter over BUILDING-segment customer keys, probe every
    order against it, and report the reduction quality (pass counts,
    false-positive rate, zero false negatives) next to the filter's
    own checksum (set-bit count).

    THE 100 TB mechanism this demonstrates: a semi-join where the
    build side is small but the probe side is the fact table ships a
    ~128 KiB bitset to every task instead of shuffling the fact —
    the runtime-filter / semi-join-reduction trick engines apply
    before expensive joins. The report proves the contract a planner
    relies on: no member is ever dropped (false_neg = 0 is a hard
    invariant, not a sample), and the false-positive rate is the
    only cost.

    Determinism: multiplicative hashing over int64 (constants chosen
    so every product fits 2^62), bit_or word aggregation, bit_count
    checksum — all exact integers in both engines; the one double
    (fp_rate) is a ratio of exact counts floored at 6dp.

    Shape: build = one customer scan -> explode(3) -> hash agg to
    <=16,646 words (persisted: feeds 3 probe joins + the checksum).
    Probe = one orders scan with THREE broadcast left joins (word
    lookup per hash) + one broadcast member-flag join; no shuffle
    touches the fact table at all."""
    from simpleetlpipeline_spark.cache import track

    keys = (read_table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select(F.col("c_custkey").cast("long").alias("k")))

    pos = keys.select(F.explode(F.array(
        *[_bloom_pos(F.col("k"), a, b) for a, b in _BLOOM_HASHES]
    )).alias("p"))
    words = track(
        pos.select(F.expr("p div 63").alias("wi"),
                   F.expr("shiftleft(cast(1 as bigint),"
                          " cast(p % 63 as int))").alias("m"))
        .groupBy("wi").agg(F.bit_or("m").alias("w")).persist())

    probe = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    for i, (a, b) in enumerate(_BLOOM_HASHES):
        probe = probe.withColumn(f"p{i}", _bloom_pos(F.col("k"), a, b))
    for i in range(len(_BLOOM_HASHES)):
        side = words.select(F.col("wi").alias(f"wi{i}"),
                            F.col("w").alias(f"w{i}"))
        probe = probe.join(
            F.broadcast(side),
            F.expr(f"p{i} div 63") == F.col(f"wi{i}"), "left")
    hit = [F.expr(f"shiftright(coalesce(w{i}, cast(0 as bigint)),"
                  f" cast(p{i} % 63 as int)) & 1 = 1")
           for i in range(len(_BLOOM_HASHES))]
    bloom_pass = hit[0] & hit[1] & hit[2]

    members = keys.select(F.col("k").alias("mk")).distinct()
    probe = (probe.join(F.broadcast(members),
                        F.col("k") == F.col("mk"), "left")
             .select(F.col("cents"),
                     bloom_pass.alias("bp"),
                     F.col("mk").isNotNull().alias("mem")))

    stats = words.agg(
        F.count(F.lit(1)).cast("bigint").alias("words_nonzero"),
        F.sum(F.bit_count("w")).cast("bigint").alias("bits_set"))

    bp, mem = F.col("bp"), F.col("mem")
    rep = probe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(mem.cast("long")).cast("bigint").alias("n_members"),
        F.sum(bp.cast("long")).cast("bigint").alias("n_bloom_pass"),
        F.sum((bp & ~mem).cast("long")).cast("bigint")
        .alias("n_false_pos"),
        F.sum((mem & ~bp).cast("long")).cast("bigint")
        .alias("n_false_neg"),
        F.sum(F.when(bp, F.col("cents")).otherwise(F.lit(0)))
        .cast("bigint").alias("passed_revenue_cents"))
    fp_rate = (F.col("n_false_pos").cast("double")
               / (F.col("n_orders") - F.col("n_members"))
               .cast("double"))
    return (rep.crossJoin(F.broadcast(stats))
            .select("n_orders", "n_members", "n_bloom_pass",
                    "n_false_pos", "n_false_neg",
                    (F.floor(fp_rate * 1e6) / 1e6).alias("fp_rate"),
                    "passed_revenue_cents",
                    "words_nonzero", "bits_set"))


QUERIES["bloom_semijoin_reduction"] = bloom_semijoin_reduction

ORACLE_SQL["bloom_semijoin_reduction"] = """
    WITH keys AS (
        SELECT CAST(c_custkey AS BIGINT) AS k
        FROM customer WHERE c_mktsegment = 'BUILDING'
    ), pos AS (
        SELECT ((k % 2147483647) * 1597334677 + 15487469)
               % 2147483647 % 1048576 AS p FROM keys
        UNION ALL
        SELECT ((k % 2147483647) * 1203793907 + 28491121)
               % 2147483647 % 1048576 FROM keys
        UNION ALL
        SELECT ((k % 2147483647) * 784387469 + 37482901)
               % 2147483647 % 1048576 FROM keys
    ), words AS (
        SELECT p // 63 AS wi,
               bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS w
        FROM pos GROUP BY 1
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS words_nonzero,
               CAST(sum(bit_count(w)) AS BIGINT) AS bits_set
        FROM words
    ), probe AS (
        SELECT CAST(o_custkey AS BIGINT) AS k,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
               ((CAST(o_custkey AS BIGINT) % 2147483647)
                * 1597334677 + 15487469)
               % 2147483647 % 1048576 AS p0,
               ((CAST(o_custkey AS BIGINT) % 2147483647)
                * 1203793907 + 28491121)
               % 2147483647 % 1048576 AS p1,
               ((CAST(o_custkey AS BIGINT) % 2147483647)
                * 784387469 + 37482901)
               % 2147483647 % 1048576 AS p2
        FROM orders
    ), flagged AS (
        SELECT pr.cents,
               ((coalesce(w0.w, 0) >> CAST(pr.p0 % 63 AS INT)) & 1
                = 1)
               AND ((coalesce(w1.w, 0) >> CAST(pr.p1 % 63 AS INT))
                    & 1 = 1)
               AND ((coalesce(w2.w, 0) >> CAST(pr.p2 % 63 AS INT))
                    & 1 = 1) AS bp,
               pr.k IN (SELECT k FROM keys) AS mem
        FROM probe pr
        LEFT JOIN words w0 ON pr.p0 // 63 = w0.wi
        LEFT JOIN words w1 ON pr.p1 // 63 = w1.wi
        LEFT JOIN words w2 ON pr.p2 // 63 = w2.wi
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN mem THEN 1 ELSE 0 END) AS BIGINT)
               AS n_members,
           CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(sum(CASE WHEN bp AND NOT mem THEN 1 ELSE 0 END)
               AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN mem AND NOT bp THEN 1 ELSE 0 END)
               AS BIGINT) AS n_false_neg,
           floor(CAST(sum(CASE WHEN bp AND NOT mem THEN 1 ELSE 0
                          END) AS DOUBLE)
                 / CAST(count(*) - sum(CASE WHEN mem THEN 1 ELSE 0
                                       END) AS DOUBLE)
                 * 1e6) / 1e6 AS fp_rate,
           CAST(sum(CASE WHEN bp THEN cents ELSE 0 END) AS BIGINT)
               AS passed_revenue_cents,
           CAST(max(stats.words_nonzero) AS BIGINT)
               AS words_nonzero,
           CAST(max(stats.bits_set) AS BIGINT) AS bits_set
    FROM flagged CROSS JOIN stats
"""


# Poisson bootstrap --------------------------------------------------
#
# Integer cut points: floor(CDF_Poisson(1)(j) * (2^31 - 1)) for
# j = 0..6 — the uniform draw stays an INTEGER in [0, P) and every
# threshold comparison is integer-vs-literal, so the replicate
# weights are bit-identical in any engine. Counts >= 7 truncate to 7
# (CDF mass 8.1e-5): a deterministic, documented weighting scheme.
_BOOT_CUTS = (790015083, 1580030167, 1975037709, 2106706890,
              2139624185, 2146207644, 2147304887)
_BOOT_R = 100
_BOOT_A1 = 1597334677
_BOOT_A2 = 1203793907


def poisson_bootstrap_mean_ci(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value,
    via the POISSON bootstrap — the resampling scheme that actually
    distributes: instead of drawing N rows with replacement per
    replicate (a driver-side shuffle per replicate), every row
    independently contributes Poisson(1) copies to each of R=100
    replicates. For large N the replicate is statistically
    indistinguishable from a classical bootstrap resample
    (multinomial -> Poisson limit), and the whole procedure is ONE
    pass over the fact: explode xR, map-side partial-agg collapses
    each partition to R rows, the shuffle moves R x partitions tiny
    rows. Replicate cost is independent of data size — the 100 TB
    form of 'error bars on an aggregate'.

    Determinism: the per-(row, replicate) uniform draw is an integer
    LCG hash in [0, P); weights come from integer cut-point
    comparisons (_BOOT_CUTS); replicate sums are exact int64; each
    replicate mean is quantized once to micro-cents; the CI bounds
    are order statistics (ranks 3 and 98 of 100, ties broken by
    replicate id) — no float ever folds.

    Shape: one orders scan -> explode(sequence(0,99)) -> hash agg
    keyed by replicate (100 groups, partial agg does the heavy
    lifting) -> a 100-row window for the order statistics. The
    point estimate reuses the same scan lineage."""
    base = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))

    repl = base.select(
        "k", "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r"))
    s = (((F.col("k") % _BLOOM_P) * _BOOT_A1
          + (F.col("r").cast("long") + 1) * _BOOT_A2) % _BLOOM_P)
    w = F.lit(7)
    for j in range(len(_BOOT_CUTS) - 1, -1, -1):
        w = F.when(s < _BOOT_CUTS[j], F.lit(j)).otherwise(w)
    rep = (repl.select("r", "cents", w.alias("w"))
           .groupBy("r")
           .agg(F.sum(F.col("w") * F.col("cents")).alias("sc"),
                F.sum("w").alias("nw")))
    means = rep.select(
        "r",
        F.floor(F.col("sc").cast("double")
                / F.col("nw").cast("double") * 1e6)
        .cast("long").alias("m"))
    rk = F.row_number().over(Window.orderBy("m", "r"))
    ranked = means.select("m", rk.alias("rk"))
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 3, F.col("m")))
        .alias("ci_lo_microcents"),
        F.max(F.when(F.col("rk") == _BOOT_R - 2, F.col("m")))
        .alias("ci_hi_microcents"),
        F.min("m").alias("boot_min_microcents"),
        F.max("m").alias("boot_max_microcents"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"))
    pt = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.floor(F.sum("cents").cast("double")
                / F.count(F.lit(1)).cast("double") * 1e6)
        .cast("long").alias("mean_microcents"))
    return (pt.crossJoin(F.broadcast(ci))
            .select("n_orders", "mean_microcents", "n_replicates",
                    "ci_lo_microcents", "ci_hi_microcents",
                    "boot_min_microcents", "boot_max_microcents"))


QUERIES["poisson_bootstrap_mean_ci"] = poisson_bootstrap_mean_ci

ORACLE_SQL["poisson_bootstrap_mean_ci"] = """
    WITH base AS (
        SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM orders
    ), repl AS (
        SELECT k, cents, t.r,
               ((k % 2147483647) * 1597334677
                + (t.r + 1) * 1203793907) % 2147483647 AS s
        FROM base, range(100) t(r)
    ), wts AS (
        SELECT r, cents,
               CASE WHEN s < 790015083 THEN 0
                    WHEN s < 1580030167 THEN 1
                    WHEN s < 1975037709 THEN 2
                    WHEN s < 2106706890 THEN 3
                    WHEN s < 2139624185 THEN 4
                    WHEN s < 2146207644 THEN 5
                    WHEN s < 2147304887 THEN 6
                    ELSE 7 END AS w
        FROM repl
    ), rep AS (
        SELECT r, CAST(sum(w * cents) AS BIGINT) AS sc,
               CAST(sum(w) AS BIGINT) AS nw
        FROM wts GROUP BY r
    ), means AS (
        SELECT r, CAST(floor(CAST(sc AS DOUBLE) / CAST(nw AS DOUBLE)
                             * 1e6) AS BIGINT) AS m
        FROM rep
    ), ranked AS (
        SELECT m, row_number() OVER (ORDER BY m, r) AS rk
        FROM means
    ), ci AS (
        SELECT max(CASE WHEN rk = 3 THEN m END)
                   AS ci_lo_microcents,
               max(CASE WHEN rk = 98 THEN m END)
                   AS ci_hi_microcents,
               min(m) AS boot_min_microcents,
               max(m) AS boot_max_microcents,
               CAST(count(*) AS BIGINT) AS n_replicates
        FROM ranked
    ), pt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(floor(CAST(sum(cents) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE) * 1e6)
                    AS BIGINT) AS mean_microcents
        FROM base
    )
    SELECT n_orders, mean_microcents, n_replicates,
           ci_lo_microcents, ci_hi_microcents,
           boot_min_microcents, boot_max_microcents
    FROM pt CROSS JOIN ci
"""


def open_orders_timeline(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Concurrent-interval profile by sweep-line: how many orders
    are 'open' (placed but not fully shipped) on each day the count
    changes. Each order's open interval is [o_orderdate,
    max(l_shipdate)] over its lineitems (inclusive); the profile is
    the classic +1/-1 delta sweep — the operator behind 'peak
    concurrent sessions', hotel-occupancy, and WIP-inventory
    questions, which no plain groupBy can answer because an order
    contributes to EVERY day it spans, not one bucket.

    Why sweep-line and not explode-days: exploding each order into
    its covered days is O(rows x span) — a 2,400-day span at 100 TB
    is a 1000x row blowup. The sweep emits exactly TWO delta rows
    per order, aggregates them to one net change per distinct
    change date (map-side combine), and the running sum over that
    ~date-cardinality spine is a window over thousands of rows, not
    billions; the single-partition window stage is O(days) at any
    scale factor.

    Orders with no lineitems (none in TPC-H data) would drop out of
    the inner join — the timeline profiles fulfillable orders.
    Everything is integer/date arithmetic: exact in both engines.

    Shape: lineitem groupBy orderkey (the one fact shuffle) ->
    join orders (AQE picks the strategy; both sides keyed by
    orderkey) -> 2-row explode -> hash agg to change dates ->
    O(days) running window."""
    spans = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(epoch_date("l_shipdate")).alias("shipped"))
        .join(read_table(spark, sf_dir, "orders")
              .select("o_orderkey",
                      epoch_date("o_orderdate").alias("placed")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("placed",
                F.greatest("shipped", "placed").alias("closed")))
    deltas = spans.select(F.explode(F.array(
        F.struct(F.col("placed").alias("day"),
                 F.lit(1).alias("d")),
        F.struct(F.date_add("closed", 1).alias("day"),
                 F.lit(-1).alias("d")))).alias("e"))
    daily = (deltas.select(F.col("e.day").alias("day"),
                           F.col("e.d").alias("d"))
             .groupBy("day")
             .agg(F.sum("d").cast("bigint").alias("net_change")))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (daily.select(
        "day", "net_change",
        F.sum("net_change").over(w).cast("bigint")
        .alias("open_orders"))
        .orderBy("day"))


QUERIES["open_orders_timeline"] = open_orders_timeline

ORACLE_SQL["open_orders_timeline"] = """
    WITH spans AS (
        SELECT CAST(o.o_orderdate AS DATE) AS placed,
               greatest(max(CAST(l.l_shipdate AS DATE)),
                        CAST(o.o_orderdate AS DATE)) AS closed
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
    ), deltas AS (
        SELECT placed AS day, 1 AS d FROM spans
        UNION ALL
        SELECT closed + INTERVAL 1 DAY, -1 FROM spans
    ), daily AS (
        SELECT CAST(day AS DATE) AS day,
               CAST(sum(d) AS BIGINT) AS net_change
        FROM deltas GROUP BY 1
    )
    SELECT day, net_change,
           CAST(sum(net_change) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_orders
    FROM daily ORDER BY day
"""


def mann_whitney_u_test(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: do 'view' and
    'purchase' events draw their values from the same distribution?
    The nonparametric two-sample test — the robust alternative to
    the t-test behind ab_test_report when the metric is skewed
    (revenue-per-event always is) — reduced entirely to integer
    sufficient statistics: doubled midranks from cumulative tie
    counts, the doubled rank sum R1, U1, the tie-correction term
    sum(t^3 - t), and the normal-approximation z quantized to nano.

    Determinism: values quantize to cents up front; every rank
    quantity is exact int64 (doubled midrank = 2*cum_before + t + 1
    sidesteps .5 fractions); the variance numerator/denominator are
    DECIMAL(38,0) products (exact hugeint in DuckDB, capped-exact in
    Spark — bounded by n^5 < 1e38 up to ~1e7 rows per pair); z is
    one double division + sqrt over those exact operands, floored
    at 1e-9.

    Shape: one events scan -> hash agg to the distinct-cents spine
    (bounded by the value domain, NOT by row count — 100 TB of
    events still folds into <=~1e5 cent buckets map-side) -> one
    O(spine) ordered window -> a 1-row aggregate."""
    ev = (read_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("view", "purchase"))
          .select(
              F.col("event_type").alias("g"),
              F.floor(F.col("value") * 100).cast("long").alias("v")))
    spine = (ev.groupBy("v")
             .agg(F.sum(F.when(F.col("g") == "view", 1).otherwise(0))
                  .cast("long").alias("n1v"),
                  F.count(F.lit(1)).cast("long").alias("t")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = spine.select(
        "n1v", "t",
        (F.sum("t").over(w) - F.col("t")).alias("cumb"))
    agg = ranked.agg(
        F.sum("n1v").cast("bigint").alias("n1"),
        (F.sum("t") - F.sum("n1v")).cast("bigint").alias("n2"),
        F.sum(F.col("n1v") * (2 * F.col("cumb") + F.col("t") + 1))
        .cast("bigint").alias("r1_doubled"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint").alias("tie_term"))
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    u1_doubled = F.col("r1_doubled") - n1 * (n1 + 1)
    d38 = "decimal(38,0)"
    var_num = (n1.cast(d38) * n2.cast(d38)
               * ((n + 1).cast(d38) * n.cast(d38) * (n - 1).cast(d38)
                  - F.col("tie_term").cast(d38)))
    var_den = (F.lit(12).cast(d38) * n.cast(d38) * (n - 1).cast(d38))
    z = ((u1_doubled - n1 * n2).cast("double") / 2
         / F.sqrt(var_num.cast("double") / var_den.cast("double")))
    return agg.select(
        "n1", "n2", "r1_doubled",
        u1_doubled.cast("bigint").alias("u1_doubled"),
        "tie_term",
        F.floor(z * 1e9).cast("bigint").alias("z_nano"))


QUERIES["mann_whitney_u_test"] = mann_whitney_u_test

ORACLE_SQL["mann_whitney_u_test"] = """
    WITH ev AS (
        SELECT event_type AS g,
               CAST(floor(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type IN ('view', 'purchase')
    ), spine AS (
        SELECT v,
               CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1v,
               CAST(count(*) AS BIGINT) AS t
        FROM ev GROUP BY v
    ), ranked AS (
        SELECT n1v, t,
               sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   - t AS cumb
        FROM spine
    ), agg AS (
        SELECT CAST(sum(n1v) AS BIGINT) AS n1,
               CAST(sum(t) - sum(n1v) AS BIGINT) AS n2,
               CAST(sum(n1v * (2 * cumb + t + 1)) AS BIGINT)
                   AS r1_doubled,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
        FROM ranked
    )
    SELECT n1, n2, r1_doubled,
           CAST(r1_doubled - n1 * (n1 + 1) AS BIGINT) AS u1_doubled,
           tie_term,
           CAST(floor(
               CAST(r1_doubled - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
               / 2
               / sqrt(CAST(CAST(n1 AS DECIMAL(38,0))
                           * CAST(n2 AS DECIMAL(38,0))
                           * (CAST(n1 + n2 + 1 AS DECIMAL(38,0))
                              * CAST(n1 + n2 AS DECIMAL(38,0))
                              * CAST(n1 + n2 - 1 AS DECIMAL(38,0))
                              - CAST(tie_term AS DECIMAL(38,0)))
                           AS DOUBLE)
                      / CAST(CAST(12 AS DECIMAL(38,0))
                             * CAST(n1 + n2 AS DECIMAL(38,0))
                             * CAST(n1 + n2 - 1 AS DECIMAL(38,0))
                             AS DOUBLE))
               * 1e9) AS BIGINT) AS z_nano
    FROM agg
"""


#: Equi-depth histogram bucket count.
EQUIDEPTH_B = 10


def order_value_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of order values:
    EQUIDEPTH_B buckets each holding ~N/EQUIDEPTH_B orders, with
    per-bucket row count, value bounds and revenue mass — the
    optimizer-statistics / percentile-band view that an equi-WIDTH
    histogram
    (events_value_histogram) gets wrong on skewed money data, where
    one wide bin swallows the tail.

    Bucket rule: a distinct value belongs wholly to the bucket of
    its first row — bucket = cum_rows_before * EQUIDEPTH_B div N — the
    classic non-splitting equi-depth: a heavy distinct value may
    overfill its bucket (that imbalance is itself the signal
    optimizers record as the 'high-frequency value' list).

    Determinism: values are exact cents (decimal cast then *100);
    bucket assignment is non-negative integer arithmetic; per-bucket
    sums are int64 over v*cnt (bounded: 5e7 cents x 1.5e6 rows
    < 1e14 per bucket at sf1; the 100 TB swap-in is DECIMAL(38,0)).

    Shape: one orders scan -> hash agg to the distinct-cents spine
    (domain-bounded, map-side combined) -> one O(spine) ordered
    window -> EQUIDEPTH_B-row rollup. The fact table never sorts globally —
    the window runs on the spine, which is why this scales where
    ntile() over raw rows (a single-partition global sort) dies."""
    vals = read_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("v"))
    spine = vals.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = spine.select(
        "v", "cnt", (F.sum("cnt").over(w) - F.col("cnt")).alias("cumb"))
    total = vals.agg(F.count(F.lit(1)).cast("long").alias("n"))
    bucketed = (cum.crossJoin(F.broadcast(total))
                .select("v", "cnt",
                        F.expr(f"cumb * {EQUIDEPTH_B}L div n")
                        .alias("bucket")))
    return (bucketed.groupBy("bucket")
            .agg(F.sum("cnt").cast("bigint").alias("n_orders"),
                 F.min("v").alias("lo_cents"),
                 F.max("v").alias("hi_cents"),
                 F.sum(F.col("v") * F.col("cnt")).cast("bigint")
                 .alias("revenue_cents"))
            .orderBy("bucket"))


QUERIES["order_value_equidepth"] = order_value_equidepth

ORACLE_SQL["order_value_equidepth"] = f"""
    WITH vals AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ), spine AS (
        SELECT v, CAST(count(*) AS BIGINT) AS cnt
        FROM vals GROUP BY v
    ), cum AS (
        SELECT v, cnt,
               sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   - cnt AS cumb
        FROM spine
    ), total AS (SELECT count(*) AS n FROM vals)
    SELECT CAST(cumb * {EQUIDEPTH_B} // n AS BIGINT) AS bucket,
           CAST(sum(cnt) AS BIGINT) AS n_orders,
           min(v) AS lo_cents, max(v) AS hi_cents,
           CAST(sum(v * cnt) AS BIGINT) AS revenue_cents
    FROM cum CROSS JOIN total
    GROUP BY 1 ORDER BY 1
"""


#: Non-negativity offset for floor-division of possibly-negative
#: milli-cent sums (Spark `div` truncates toward zero, DuckDB `//`
#: floors — adding OFF*cnt before dividing keeps the numerator
#: non-negative so both engines compute the same floor).
_STL_OFF = 1_000_000_000_000


def daily_revenue_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of daily revenue:
    revenue = trend + weekly seasonal + remainder. Trend is the
    centered 7-day moving average over a GAPFILLED day spine (so
    'seven rows' provably means 'seven calendar days'); the seasonal
    component is the per-day-of-week mean of the detrended series,
    centered to sum ~zero across the week; the remainder is what
    anomaly detectors should consume INSTEAD of raw revenue — a
    Monday dip that happens every Monday is seasonality, not an
    incident (events_anomaly's z-scores can't tell those apart).

    Determinism: revenue is an exact decimal sum in cents; the
    trend is integer milli-cents (sum7 * 1000 div 7,
    non-negative); day-of-week is days-since-a-known-Monday mod 7
    (no engine dayofweek() convention involved); the seasonal means
    floor-divide via the _STL_OFF offset trick so negative
    detrended sums floor identically in both engines. No floats
    anywhere.

    Shape: one orders scan -> hash agg to ~|days| rows; everything
    after (gapfill join, 7-row windows, DOW rollup) runs on the
    O(days) spine — thousands of rows at ANY scale factor, so the
    single-partition ordered window is a non-issue at 100 TB."""
    daily = (read_table(spark, sf_dir, "orders")
             .groupBy(epoch_date("o_orderdate").alias("day"))
             .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   * 100).cast("long").alias("cents")))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    filled = (spine.join(daily, "day", "left")
              .select("day", F.coalesce("cents", F.lit(0)).alias("cents")))

    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    interior = (filled.select(
        "day", "cents",
        F.sum("cents").over(w7).alias("sum7"),
        F.count(F.lit(1)).over(w7).alias("n7"))
        .filter(F.col("n7") == 7)
        .select("day", "cents",
                F.expr("sum7 * 1000L div 7L").alias("trend_milli")))
    det = interior.select(
        "day", "cents", "trend_milli",
        (F.datediff("day", F.lit("1970-01-05").cast("date")) % 7)
        .alias("dow"),
        (F.col("cents") * 1000 - F.col("trend_milli")).alias("det"))

    seas = (det.groupBy("dow")
            .agg(F.sum("det").alias("sd"),
                 F.count(F.lit(1)).alias("cd"))
            .select("dow", F.expr(
                f"(sd + {_STL_OFF}L * cd) div cd - {_STL_OFF}L")
                .alias("s_raw")))
    center = seas.agg(F.expr(
        f"(sum(s_raw) + {_STL_OFF}L * count(*)) div count(*)"
        f" - {_STL_OFF}L").alias("s_mean"))
    seas_c = (seas.crossJoin(F.broadcast(center))
              .select("dow",
                      (F.col("s_raw") - F.col("s_mean"))
                      .alias("seasonal_milli")))

    return (det.join(F.broadcast(seas_c), "dow")
            .select("day", "dow",
                    F.col("cents").alias("revenue_cents"),
                    "trend_milli", "seasonal_milli",
                    (F.col("det") - F.col("seasonal_milli"))
                    .alias("remainder_milli"))
            .orderBy("day"))


QUERIES["daily_revenue_stl"] = daily_revenue_stl

ORACLE_SQL["daily_revenue_stl"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), bounds AS (
        SELECT min(day) AS lo, max(day) AS hi FROM daily
    ), spine AS (
        SELECT CAST(unnest(generate_series(lo, hi,
                    INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ), filled AS (
        SELECT sp.day, coalesce(d.cents, 0) AS cents
        FROM spine sp LEFT JOIN daily d USING (day)
    ), win AS (
        SELECT day, cents,
               sum(cents) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
               count(*) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
        FROM filled
    ), interior AS (
        SELECT day, cents, sum7 * 1000 // 7 AS trend_milli,
               datediff('day', DATE '1970-01-05', day) % 7 AS dow,
               cents * 1000 - sum7 * 1000 // 7 AS det
        FROM win WHERE n7 = 7
    ), seas AS (
        SELECT dow,
               (sum(det) + 1000000000000 * count(*)) // count(*)
                   - 1000000000000 AS s_raw
        FROM interior GROUP BY dow
    ), center AS (
        SELECT (sum(s_raw) + 1000000000000 * count(*)) // count(*)
                   - 1000000000000 AS s_mean
        FROM seas
    ), seas_c AS (
        SELECT dow, s_raw - s_mean AS seasonal_milli
        FROM seas CROSS JOIN center
    )
    SELECT i.day, i.dow,
           i.cents AS revenue_cents,
           CAST(i.trend_milli AS BIGINT) AS trend_milli,
           CAST(s.seasonal_milli AS BIGINT) AS seasonal_milli,
           CAST(i.det - s.seasonal_milli AS BIGINT)
               AS remainder_milli
    FROM interior i JOIN seas_c s USING (dow)
    ORDER BY i.day
"""


#: Robust fence in whole MADs: |v - median| > MAD_FENCE_K * MAD flags
#: an outlier. 5 MADs ~= 3.4 sigma under normality (5 * 0.6745) —
#: an integer so the fence comparison stays exact in both engines.
MAD_FENCE_K = 5


def robust_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier report: median and MAD (median
    absolute deviation) of the value distribution, and how many
    events sit beyond MAD_FENCE_K MADs from the median — the robust
    z-score screen (Iglewicz-Hoaglin) that mean/stddev anomaly
    detection gets wrong on heavy-tailed money data, where the
    outliers inflate the very sigma meant to catch them.

    Exact-order-statistic contract: values quantize to cents; both
    medians are the LOWER median (the ceil(n/2)-th order statistic)
    computed from cumulative counts over the distinct-cents spine —
    never an engine median() builtin (DuckDB averages the two middle
    values on even n, Spark's percentile interpolates; the k-th
    order statistic is the only definition both engines express
    identically). The fence is integer arithmetic end to end; the
    only float is the ppm share, one double division floored.

    Shape: one events scan -> (type, cents) hash agg (map-side
    combined; spine is value-domain-bounded, NOT row-bounded) ->
    per-type cumulative window over the spine for the median -> the
    deviation spine (|v - med|, another domain-bounded agg) -> same
    window for the MAD -> one fence aggregate. 100 TB of events
    still folds to <= |types| x |distinct cents| spine rows."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("etype"),
        F.floor(F.col("value") * 100).cast("long").alias("v"))
    spine = ev.groupBy("etype", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))

    def lower_median(sp: DataFrame, val: str) -> DataFrame:
        """(etype, med) via cumulative counts: smallest value whose
        running count reaches ceil(n/2)."""
        wc = (Window.partitionBy("etype").orderBy(val)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        wn = (Window.partitionBy("etype")
              .rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
        return (sp.select("etype", F.col(val).alias("__v"),
                          F.sum("cnt").over(wc).alias("__cum"),
                          F.sum("cnt").over(wn).alias("__n"))
                .filter(F.col("__cum") * 2 >= F.col("__n"))
                .groupBy("etype").agg(F.min("__v").alias("med")))

    med = lower_median(spine, "v")
    dev = (spine.join(F.broadcast(med), "etype")
           .select("etype", F.abs(F.col("v") - F.col("med")).alias("d"),
                   "cnt")
           .groupBy("etype", "d")
           .agg(F.sum("cnt").alias("cnt")))
    mad = lower_median(dev, "d").withColumnRenamed("med", "mad")
    fenced = (spine.join(F.broadcast(med), "etype")
              .join(F.broadcast(mad), "etype")
              .groupBy("etype")
              .agg(F.sum("cnt").cast("long").alias("n_events"),
                   F.min("med").cast("long").alias("median_cents"),
                   F.min("mad").cast("long").alias("mad_cents"),
                   F.sum(F.when(
                       F.abs(F.col("v") - F.col("med"))
                       > MAD_FENCE_K * F.col("mad"),
                       F.col("cnt")).otherwise(0))
                   .cast("long").alias("n_outliers")))
    return (fenced.select(
        "etype", "n_events", "median_cents", "mad_cents", "n_outliers",
        F.floor(F.col("n_outliers") / F.col("n_events") * 1e6)
        .cast("bigint").alias("outlier_ppm"))
        .orderBy("etype"))


QUERIES["robust_outlier_mad"] = robust_outlier_mad

ORACLE_SQL["robust_outlier_mad"] = f"""
    WITH ev AS (
        SELECT event_type AS etype,
               CAST(floor(value * 100) AS BIGINT) AS v
        FROM events
    ), spine AS (
        SELECT etype, v, CAST(count(*) AS BIGINT) AS cnt
        FROM ev GROUP BY 1, 2
    ), med AS (
        SELECT etype, min(v) AS med FROM (
            SELECT etype, v,
                   sum(cnt) OVER (PARTITION BY etype ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY etype) AS n
            FROM spine
        ) WHERE cum * 2 >= n GROUP BY 1
    ), dev AS (
        SELECT s.etype, abs(s.v - m.med) AS d, sum(s.cnt) AS cnt
        FROM spine s JOIN med m USING (etype)
        GROUP BY 1, 2
    ), mad AS (
        SELECT etype, min(d) AS mad FROM (
            SELECT etype, d,
                   sum(cnt) OVER (PARTITION BY etype ORDER BY d
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY etype) AS n
            FROM dev
        ) WHERE cum * 2 >= n GROUP BY 1
    ), fenced AS (
        SELECT s.etype,
               CAST(sum(s.cnt) AS BIGINT) AS n_events,
               CAST(min(m.med) AS BIGINT) AS median_cents,
               CAST(min(a.mad) AS BIGINT) AS mad_cents,
               CAST(sum(CASE WHEN abs(s.v - m.med)
                                  > {MAD_FENCE_K} * a.mad
                             THEN s.cnt ELSE 0 END) AS BIGINT)
                   AS n_outliers
        FROM spine s JOIN med m USING (etype) JOIN mad a USING (etype)
        GROUP BY 1
    )
    SELECT etype, n_events, median_cents, mad_cents, n_outliers,
           CAST(floor(CAST(n_outliers AS DOUBLE)
                      / CAST(n_events AS DOUBLE) * 1e6) AS BIGINT)
               AS outlier_ppm
    FROM fenced ORDER BY etype
"""


#: How many top streaks the activity report returns.
STREAK_TOP_N = 20


def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive
    active days, reporting the top-N streaks — the engagement-streak
    leaderboard (and the canonical islands shape: consecutive-day
    runs collapse because day_number minus per-user row_number is
    constant within a run).

    Determinism: days are exact integers (datediff from epoch);
    distinct (user, day) first so row_number has no ties; the final
    top-N breaks ties (streak desc, user asc) — a total order.

    Shape: events -> distinct (user, day) hash agg (map-side
    combined) -> per-USER window (millions of small partitions, no
    global window) -> (user, island) hash agg -> per-user max agg ->
    two-phase salted_topk for the leaderboard. Every wide op is
    keyed by user; nothing funnels through one task."""
    from simpleetlpipeline_spark.operators.aggregates import salted_topk

    days = (read_table(spark, sf_dir, "events")
            .select("user_id",
                    epoch_day("ts")
                    .cast("long").alias("dayn"))
            .distinct())
    w = Window.partitionBy("user_id").orderBy("dayn")
    islands = days.select(
        "user_id", "dayn",
        (F.col("dayn") - F.row_number().over(w)).alias("grp"))
    streaks = (islands.groupBy("user_id", "grp")
               .agg(F.count(F.lit(1)).cast("long").alias("len"),
                    F.min("dayn").alias("start_dayn")))
    best = (streaks.groupBy("user_id")
            .agg(F.max_by(F.struct("len", "start_dayn"),
                          F.struct("len", (-F.col("start_dayn"))
                                   .alias("neg")))
                 .alias("b"),
                 F.count(F.lit(1)).cast("long").alias("n_streaks"),
                 F.sum("len").cast("long").alias("n_active_days"))
            .select("user_id", F.col("b.len").alias("max_streak"),
                    F.col("b.start_dayn").alias("streak_start_dayn"),
                    "n_streaks", "n_active_days"))
    return (salted_topk(best, [],
                        [F.desc("max_streak"), F.asc("user_id")],
                        STREAK_TOP_N)
            .withColumnRenamed("topk_rank", "rank")
            .select("rank", "user_id", "max_streak",
                    "streak_start_dayn", "n_streaks", "n_active_days"))


QUERIES["user_activity_streaks"] = user_activity_streaks

ORACLE_SQL["user_activity_streaks"] = f"""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS dayn
        FROM events
    ), islands AS (
        SELECT user_id, dayn,
               dayn - row_number() OVER (PARTITION BY user_id
                                         ORDER BY dayn) AS grp
        FROM days
    ), streaks AS (
        SELECT user_id, grp,
               CAST(count(*) AS BIGINT) AS len,
               min(dayn) AS start_dayn
        FROM islands GROUP BY 1, 2
    ), totals AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_streaks,
               CAST(sum(len) AS BIGINT) AS n_active_days
        FROM streaks GROUP BY 1
    ), best AS (
        SELECT s.user_id, s.len AS max_streak,
               s.start_dayn AS streak_start_dayn,
               t.n_streaks, t.n_active_days
        FROM (
            SELECT user_id, len, start_dayn,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY len DESC,
                                               start_dayn ASC) AS rn
            FROM streaks
        ) s JOIN totals t USING (user_id)
        WHERE s.rn = 1
    )
    SELECT CAST(row_number() OVER (ORDER BY max_streak DESC,
                                   user_id ASC) AS INT) AS rank,
           user_id, max_streak, streak_start_dayn, n_streaks,
           n_active_days
    FROM best
    QUALIFY rank <= {STREAK_TOP_N}
    ORDER BY rank
"""


def interarrival_time_profile(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival profile: for consecutive events
    of the same type by the same user, the exact median / p90 /
    max gap in seconds plus the gap count — the cadence fingerprint
    behind session-timeout tuning (sessionization's 30-min gap is a
    guess; this measures the actual distribution it should be cut
    from) and bot detection (machine traffic shows implausibly tight
    medians).

    Exact-order-statistic contract (same as robust_outlier_mad):
    the median is the lower median — smallest gap g with
    2*cum(g) >= n — and p90 the smallest g with 10*cum(g) >= 9*n,
    both from cumulative counts over the distinct-gap spine; no
    engine percentile builtin (interpolation definitions differ),
    no floats anywhere.

    Shape: per-(user,type) lag window (millions of small partitions,
    no global window) -> (type, gap) spine hash agg (domain-bounded:
    gaps land on whole seconds) -> per-type cumulative window over
    the spine -> one rollup per threshold joined back."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id")
    w = (Window.partitionBy("user_id", "event_type")
         .orderBy("ts", "event_id"))
    # INTEGER division micros -> seconds: double / then cast would
    # truncate in Spark but round in DuckDB (gaps are non-negative,
    # so div == // exactly)
    gaps = (ev.select(
        "event_type",
        (F.unix_micros("ts")
         - F.unix_micros(F.lag("ts").over(w))).alias("__d"))
        .filter(F.col("__d").isNotNull())
        .select("event_type",
                F.expr("__d div 1000000").alias("gap_s")))
    spine = gaps.groupBy("event_type", "gap_s").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    wc = (Window.partitionBy("event_type").orderBy("gap_s")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = (Window.partitionBy("event_type")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    cum = spine.select(
        "event_type", "gap_s",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
        F.max("gap_s").over(wn).alias("max_gap_s"))
    return (cum.groupBy("event_type")
            .agg(F.min("n").cast("long").alias("n_gaps"),
                 F.min(F.when(F.col("cum") * 2 >= F.col("n"),
                              F.col("gap_s"))).alias("median_gap_s"),
                 F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9,
                              F.col("gap_s"))).alias("p90_gap_s"),
                 F.min("max_gap_s").cast("long").alias("max_gap_s"))
            .orderBy("event_type"))


QUERIES["interarrival_time_profile"] = interarrival_time_profile

ORACLE_SQL["interarrival_time_profile"] = """
    WITH gaps AS (
        SELECT event_type,
               (epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id))) // 1000000 AS gap_s
        FROM events
    ), spine AS (
        SELECT event_type, gap_s, CAST(count(*) AS BIGINT) AS cnt
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, gap_s,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY gap_s
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n,
               max(gap_s) OVER (PARTITION BY event_type) AS max_gap_s
        FROM spine
    )
    SELECT event_type,
           CAST(min(n) AS BIGINT) AS n_gaps,
           min(CASE WHEN cum * 2 >= n THEN gap_s END) AS median_gap_s,
           min(CASE WHEN cum * 10 >= n * 9 THEN gap_s END)
               AS p90_gap_s,
           CAST(min(max_gap_s) AS BIGINT) AS max_gap_s
    FROM cum GROUP BY 1 ORDER BY 1
"""


def revenue_growth_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue report: monthly revenue with
    month-over-month and year-over-year growth in basis points — the
    first dashboard any finance review asks for, and the classic
    lag-window shape.

    Exactness: revenue is an exact decimal cent sum per month;
    growth is (cur - prev) * 10000 div prev over exact BIGINT cents
    (integer floor division, both engines), NULL when the comparison
    month is absent. The lag windows run over the MONTH SPINE
    (|months| rows — the sanctioned pre-aggregated tier), never raw
    orders; lag(12) is positional, which is only correct if every
    intervening month exists, so the spine is made DENSE first
    (sequence over the min..max month range, left join, zero fill —
    the events_hourly_gapfill pattern; an absent month then shows
    0 revenue rather than silently shifting every later YoY)."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice")
    monthly = (orders
               .groupBy(month_start("o_orderdate")
                        .alias("month_start"))
               .agg(F.sum(F.floor(F.col("o_totalprice") * 100)
                          .cast("long")).alias("revenue_cents")))
    bounds = monthly.agg(F.min("month_start").alias("mn"),
                         F.max("month_start").alias("mx"))
    spine = (bounds.select(F.explode(F.sequence(
        "mn", "mx", F.expr("interval 1 month"))).alias("month_start")))
    dense = (spine.join(monthly, "month_start", "left")
             .select("month_start",
                     F.coalesce("revenue_cents", F.lit(0))
                     .alias("revenue_cents")))
    w = Window.orderBy("month_start")
    lagged = dense.select(
        "month_start", "revenue_cents",
        F.lag("revenue_cents", 1).over(w).alias("prev_m"),
        F.lag("revenue_cents", 12).over(w).alias("prev_y"))
    # Spark's `div` TRUNCATES toward zero, matching DuckDB's integer
    # `//` on these (possibly negative) growth deltas — a floor-style
    # spelling diverges by one bp on every shrinking month
    return (lagged.select(
        F.substring(F.col("month_start").cast("string"), 1, 7)
        .alias("month"),
        "revenue_cents",
        F.expr("CASE WHEN prev_m > 0 THEN "
               "((revenue_cents - prev_m) * 10000) div prev_m END")
        .alias("mom_bps"),
        F.expr("CASE WHEN prev_y > 0 THEN "
               "((revenue_cents - prev_y) * 10000) div prev_y END")
        .alias("yoy_bps"))
        .orderBy("month"))


QUERIES["revenue_growth_mom_yoy"] = revenue_growth_mom_yoy

ORACLE_SQL["revenue_growth_mom_yoy"] = f"""
    WITH monthly AS (
        SELECT {sql_month_start('o_orderdate')} AS month_start,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders GROUP BY 1
    ), spine AS (
        SELECT unnest(generate_series(
            (SELECT min(month_start) FROM monthly),
            (SELECT max(month_start) FROM monthly),
            INTERVAL 1 MONTH)) AS month_start
    ), dense AS (
        SELECT s.month_start,
               COALESCE(m.revenue_cents, 0) AS revenue_cents
        FROM spine s LEFT JOIN monthly m USING (month_start)
    ), lagged AS (
        SELECT month_start, revenue_cents,
               lag(revenue_cents, 1) OVER (ORDER BY month_start)
                   AS prev_m,
               lag(revenue_cents, 12) OVER (ORDER BY month_start)
                   AS prev_y
        FROM dense
    )
    SELECT substr(CAST(month_start AS VARCHAR), 1, 7) AS month,
           revenue_cents,
           CASE WHEN prev_m > 0 THEN
               ((revenue_cents - prev_m) * 10000) // prev_m
           END AS mom_bps,
           CASE WHEN prev_y > 0 THEN
               ((revenue_cents - prev_y) * 10000) // prev_y
           END AS yoy_bps
    FROM lagged
    ORDER BY month
"""


#: Minimum transition count for the predictability leaderboard (tiny
#: histories make entropy estimates meaningless).
SEQ_ENTROPY_MIN_N = 20
#: Leaderboard size — interpolated into BOTH sides (a non-default
#: top_n would otherwise silently diverge from a hardcoded oracle).
SEQ_ENTROPY_TOP_N = 20


def user_sequence_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral predictability: the Shannon entropy of each user's
    event-type TRANSITION distribution (consecutive event pairs),
    reporting the most-predictable users — near-zero entropy at high
    volume is the bot/scripted-traffic signature (real users mix
    their next actions; replay loops don't).

    Determinism (lp7 contract): each transition type contributes
    n_i * ln(n_i / N) quantized to int64 at 1e-7 PER ROW before the
    per-user sum, so the fold is order-free; entropy_lp7 =
    -sum / N exact-int-divided only at the end (both engines `div`).

    Shape: per-user lag window (millions of small partitions) ->
    (user, from, to) hash agg -> per-user rollup carrying the lp7
    terms -> two-phase salted_topk leaderboard. No global window
    touches a row tier."""
    from simpleetlpipeline_spark.operators.aggregates import salted_topk

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"))
        .filter(F.col("from_type").isNotNull()))
    counts = (trans.groupBy("user_id", "from_type", "to_type")
              .agg(F.count(F.lit(1)).cast("long").alias("n_i")))
    wn = Window.partitionBy("user_id")
    scored = counts.select(
        "user_id", "n_i",
        F.sum("n_i").over(wn).alias("n"))
    terms = scored.select(
        "user_id", "n",
        F.floor(F.col("n_i")
                * F.log(F.col("n_i") / F.col("n")) * 1e7)
        .cast("long").alias("t_lp7"))
    per_user = (terms.groupBy("user_id")
                .agg(F.min("n").cast("long").alias("n_transitions"),
                     F.sum("t_lp7").alias("__s"))
                .filter(F.col("n_transitions") >= SEQ_ENTROPY_MIN_N)
                .select("user_id", "n_transitions",
                        F.expr("-__s div n_transitions")
                        .alias("entropy_lp7")))
    return (salted_topk(per_user, [],
                        [F.asc("entropy_lp7"), F.asc("user_id")],
                        SEQ_ENTROPY_TOP_N)
            .withColumnRenamed("topk_rank", "rank")
            .select("rank", "user_id", "n_transitions", "entropy_lp7"))


QUERIES["user_sequence_entropy"] = user_sequence_entropy

def user_sequence_entropy_oracle() -> str:
    """Oracle twin builder over the module constants the Spark
    function reads (SEQ_ENTROPY_MIN_N, SEQ_ENTROPY_TOP_N), read at
    call time, so patched values remain parity-checkable
    (tests/test_functions.py::test_parameterized_oracle_parity);
    ORACLE_SQL pins the import-time values."""
    return f"""
    WITH trans AS (
        SELECT user_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)
                   AS from_type,
               event_type AS to_type
        FROM events
    ), counts AS (
        SELECT user_id, from_type, to_type,
               CAST(count(*) AS BIGINT) AS n_i
        FROM trans WHERE from_type IS NOT NULL
        GROUP BY 1, 2, 3
    ), scored AS (
        SELECT user_id, n_i,
               sum(n_i) OVER (PARTITION BY user_id) AS n
        FROM counts
    ), per_user AS (
        SELECT user_id,
               CAST(min(n) AS BIGINT) AS n_transitions,
               CAST(sum(CAST(floor(n_i * ln(CAST(n_i AS DOUBLE)
                                            / CAST(n AS DOUBLE))
                                   * 1e7) AS BIGINT)) AS BIGINT)
                   AS s
        FROM scored GROUP BY 1
        HAVING CAST(min(n) AS BIGINT) >= {SEQ_ENTROPY_MIN_N}
    )
    SELECT CAST(row_number() OVER (ORDER BY (-s) // n_transitions ASC,
                                   user_id ASC) AS INT) AS rank,
           user_id, n_transitions,
           (-s) // n_transitions AS entropy_lp7
    FROM per_user
    QUALIFY rank <= {SEQ_ENTROPY_TOP_N}
    ORDER BY rank
"""


ORACLE_SQL["user_sequence_entropy"] = user_sequence_entropy_oracle()


def weighted_price_percentiles(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED price percentiles per return flag: the p25 /
    median / p75 of extended price where each lineitem counts by its
    quantity — the volume-weighted view procurement actually prices
    against (the unweighted order_value_percentiles treats a 1-unit
    and a 50-unit line identically).

    Exact-order-statistic contract: prices quantize to cents;
    weights are exact integer quantities; percentile p is the
    smallest price whose cumulative weight reaches ceil(p * W) —
    computed as 100*cum >= p*W in integers, no engine percentile
    builtin, no floats.

    Shape: one lineitem scan -> (flag, cents) spine hash agg summing
    weights (map-side combined, value-domain-bounded) -> per-flag
    cumulative window over the spine -> one rollup. The same
    domain-spine scaling argument as robust_outlier_mad."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("w"))
    spine = (li.groupBy("l_returnflag", "cents")
             .agg(F.sum("w").cast("long").alias("w")))
    wc = (Window.partitionBy("l_returnflag").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = (Window.partitionBy("l_returnflag")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    cum = spine.select(
        "l_returnflag", "cents",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wn).alias("tw"))

    def pctl(p):
        return F.min(F.when(F.col("cum") * 100 >= F.col("tw") * p,
                            F.col("cents")))

    return (cum.groupBy("l_returnflag")
            .agg(F.min("tw").cast("long").alias("total_weight"),
                 pctl(25).alias("p25_cents"),
                 pctl(50).alias("p50_cents"),
                 pctl(75).alias("p75_cents"))
            .orderBy("l_returnflag"))


QUERIES["weighted_price_percentiles"] = weighted_price_percentiles

ORACLE_SQL["weighted_price_percentiles"] = """
    WITH spine AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT l_returnflag, cents,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM spine
    )
    SELECT l_returnflag,
           CAST(min(tw) AS BIGINT) AS total_weight,
           min(CASE WHEN cum * 100 >= tw * 25 THEN cents END)
               AS p25_cents,
           min(CASE WHEN cum * 100 >= tw * 50 THEN cents END)
               AS p50_cents,
           min(CASE WHEN cum * 100 >= tw * 75 THEN cents END)
               AS p75_cents
    FROM cum GROUP BY 1 ORDER BY 1
"""


#: Two-sample split instant for the KS drift test (orders before vs
#: on/after this date). Interpolated into both engines.
KS_SPLIT = "1998-01-01"


def order_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test over the order-value
    distribution, pre- vs post-KS_SPLIT — the distribution-level
    drift detector the catalog's PSI (events_value_psi) approximates
    with fixed bins: KS is binning-free (sup-norm of the empirical
    CDF gap) and so catches shape drift PSI's coarse bins smear out.
    The statistic D, its exact scaled integer form, and the value at
    which the CDF gap peaks (the drift location) are reported.

    Exactness: with c_a/c_b the per-cent-value counts and n_a/n_b
    the sample sizes, D = max |cum_a/n_a - cum_b/n_b| is compared as
    the exact integer |cum_a * n_b - cum_b * n_a| (DECIMAL(38,0)
    products of BIGINTs), so the argmax ordering and tie-break
    (smallest cents) cannot wobble; the reported double is one
    identical floor(x/y*1e6)/1e6 chain in both engines.

    Shape: one scan -> hash agg to the distinct-cents spine (domain-
    bounded: |distinct order values|, NOT row count), then ONE
    two-pass distributed prefix sum carrying BOTH measures (cum_a
    and cum_total ride the same spine — round-12 rewrite using the
    helper's multi-value support; previously the full two-pass
    stack ran twice, doubling the scalar agg, spine window and
    bucket join: 18 -> ~10 jobs, ~1.9s -> ~1.1s at sf0.1),
    TakeOrdered(1) for the argmax. The spine never crosses an
    unpartitioned window — the helper's 1024-bucket contract.
    """
    from simpleetlpipeline_spark.operators.aggregates import (
        two_pass_global_window,
    )

    pre = (epoch_day("o_orderdate") < F.lit(day_lit(KS_SPLIT)))
    per_value = (
        read_table(spark, sf_dir, "orders")
        .select(F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
                       "AS BIGINT)").alias("cents"),
                F.when(pre, 1).otherwise(0).cast("long").alias("a"),
                F.when(pre, 0).otherwise(1).cast("long").alias("b"))
        .groupBy("cents")
        .agg(F.sum("a").alias("c_a"),
             (F.sum("a") + F.sum("b")).alias("c_t"))
    )
    step2 = two_pass_global_window(
        per_value, "cents", [F.col("cents")],
        value_col=["c_a", "c_t"],
        rank_out=None, cum_out=["cum_a", "cum_t"],
        total_value_out=["n_a", "n_t"])
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    scored = step2.select(
        "cents", "n_a",
        (F.col("n_t") - F.col("n_a")).alias("n_b"),
        F.abs(d38(F.col("cum_a")) * d38(F.col("n_t") - F.col("n_a"))
              - d38(F.col("cum_t") - F.col("cum_a"))
              * d38(F.col("n_a"))).alias("d_scaled"))
    pick = scored.orderBy(F.desc("d_scaled"), F.asc("cents")).limit(1)
    return pick.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_scaled").cast("decimal(38,0)").cast("string")
        .alias("d_scaled"),
        F.col("cents").alias("at_cents"),
        (F.floor(F.col("d_scaled").cast("double")
                 / (F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")) * 1e6) / 1e6)
        .alias("ks_d"))


QUERIES["order_value_ks_drift"] = order_value_ks_drift

ORACLE_SQL["order_value_ks_drift"] = f"""
    WITH per AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(sum(CASE WHEN {sql_epoch_day('o_orderdate')}
                        < {day_lit(KS_SPLIT)} THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_a,
               CAST(count(*) AS BIGINT) AS c_t
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT cents,
               CAST(sum(c_a) OVER (ORDER BY cents) AS BIGINT) AS cum_a,
               CAST(sum(c_t) OVER (ORDER BY cents) AS BIGINT) AS cum_t,
               CAST(sum(c_a) OVER () AS BIGINT) AS n_a,
               CAST(sum(c_t) OVER () AS BIGINT) AS n_t
        FROM per
    ), scored AS (
        SELECT cents, n_a, n_t - n_a AS n_b,
               CAST(abs(CAST(cum_a AS DECIMAL(38,0))
                        * CAST(n_t - n_a AS DECIMAL(38,0))
                        - CAST(cum_t - cum_a AS DECIMAL(38,0))
                        * CAST(n_a AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS d_scaled
        FROM ranked
    )
    , picked AS (
        SELECT * FROM scored
        ORDER BY d_scaled DESC, cents ASC
        LIMIT 1
    )
    SELECT n_a, n_b, CAST(d_scaled AS VARCHAR) AS d_scaled,
           cents AS at_cents,
           floor(CAST(d_scaled AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 * 1e6) / 1e6 AS ks_d
    FROM picked
"""


def seasonal_naive_backtest(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Forecast-quality backtest over daily revenue: the
    seasonal-naive forecast (y_hat(d) = y(d-7), the baseline every
    real forecasting system must beat) evaluated per month with
    exact error integrals — WAPE (sum|err| / sum y) and MASE
    (sum|err| vs the one-day-naive sum|y(d)-y(d-1)|, the
    scale-free Hyndman-Koehler denominator). The catalog's trend/
    seasonality ops (OLS, STL, seasonality index) DESCRIBE the
    series; this one scores a predictor of it.

    Lags are CALENDAR joins on the epoch-day number (day-7 / day-1
    equi-joins), not positional window lags — a gap day would
    silently shift a positional lag onto the wrong date in exactly
    the way the mom_yoy dense-spine comment warns about; here days
    missing either side simply drop out of the backtest, identically
    in both engines.

    Exactness: daily revenue folds as exact BIGINT cents; every
    error term, numerator and denominator is a BIGINT sum; the two
    reported ratios are exact integer micro-divisions. No floats.

    Shape: one map-side-combined daily rollup (|days| groups), two
    self-equi-joins of that tiny frame on day arithmetic, one
    |months|-row hash agg."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .select(epoch_day("o_orderdate").alias("day"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").alias("cents"))
        .groupBy("day").agg(F.sum("cents").alias("y"))
    )
    lag7 = daily.select((F.col("day") + 7).alias("day"),
                        F.col("y").alias("y7"))
    lag1 = daily.select((F.col("day") + 1).alias("day"),
                        F.col("y").alias("y1"))
    joined = (daily.join(lag7, "day").join(lag1, "day")
              .select("day", "y",
                      F.abs(F.col("y") - F.col("y7")).alias("e7"),
                      F.abs(F.col("y") - F.col("y1")).alias("e1")))
    month = F.substring(
        F.date_from_unix_date(F.col("day").cast("int"))
        .cast("string"), 1, 7)
    return (joined.groupBy(month.alias("month"))
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum("y").alias("sum_y"),
                 F.sum("e7").alias("sae_seasonal"),
                 F.sum("e1").alias("sae_naive1"))
            .select("month", "n_days", "sum_y",
                    "sae_seasonal", "sae_naive1",
                    F.expr("sae_seasonal * 1000000 div sum_y")
                    .alias("wape_micro"),
                    F.expr("sae_seasonal * 1000000 div sae_naive1")
                    .alias("mase_micro"))
            .orderBy("month"))


QUERIES["seasonal_naive_backtest"] = seasonal_naive_backtest

ORACLE_SQL["seasonal_naive_backtest"] = f"""
    WITH daily AS (
        SELECT {sql_epoch_day('o_orderdate')} AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), joined AS (
        SELECT d.day, d.y,
               abs(d.y - l7.y) AS e7,
               abs(d.y - l1.y) AS e1
        FROM daily d
        JOIN daily l7 ON l7.day = d.day - 7
        JOIN daily l1 ON l1.day = d.day - 1
    )
    SELECT substr(CAST(DATE '1970-01-01' + CAST(day AS INTEGER)
                       AS VARCHAR), 1, 7) AS month,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(e7) AS BIGINT) AS sae_seasonal,
           CAST(sum(e1) AS BIGINT) AS sae_naive1,
           CAST(sum(e7) AS BIGINT) * 1000000 // CAST(sum(y) AS BIGINT)
               AS wape_micro,
           CAST(sum(e7) AS BIGINT) * 1000000
               // CAST(sum(e1) AS BIGINT) AS mase_micro
    FROM joined
    GROUP BY 1
    ORDER BY month
"""
