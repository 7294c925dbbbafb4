"""Plan contracts for the subquery/decorrelation catalog
(plans/subqueries.py): the decorrelated shapes must actually plan as
the joins they were designed into — broadcast dims, pre-aggregated
fact sides, pushed disjunctive filters, anti/semi joins — and never
fall back to a window or sort-merge join where a broadcast works.
Values are covered by the DuckDB oracle gate; these tests pin the
100 TB plan shape."""

from __future__ import annotations

from simpleetlpipeline_spark.plans import subqueries as S


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _executed(spark, sf_dir, name):
    df = S.QUERIES[name](spark, sf_dir)
    df.collect()  # AQE finalizes the physical plan on execution
    return _plan(df)


def test_cross_nation_trade_broadcasts_dims(spark, sf_dir):
    plan = _executed(spark, sf_dir, "cross_nation_trade")
    assert "BroadcastHashJoin" in plan, "nation/supplier must broadcast"
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # nation name filter prunes the broadcast side before the join
    assert plan.count("HashAggregate") >= 2, "map-side combine expected"


def test_nation_market_share_semi_join_region(spark, sf_dir):
    plan = _executed(spark, sf_dir, "nation_market_share")
    assert "LeftSemi" in plan, \
        "region membership must plan as a semi join, not an inner fan-out"
    assert "BroadcastHashJoin" in plan


def test_supplier_value_concentration_scalar_broadcast(spark, sf_dir):
    plan = _executed(spark, sf_dir, "supplier_value_concentration")
    # the global total is a one-row broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan, \
        "fraction-of-total must not plan as a global window"


def test_customer_order_distribution_preaggregates_orders(spark, sf_dir):
    plan = _executed(spark, sf_dir, "customer_order_distribution")
    # the Q13 lesson: orders collapse to per-custkey counts BEFORE the
    # outer join with customer — the join input is an Aggregate
    first_join = plan.index("Join")
    assert "HashAggregate" in plan[first_join:], \
        "orders must pre-aggregate below the join"
    assert "partial_count" in plan, "count must combine map-side"


def test_top_revenue_supplier_no_window(spark, sf_dir):
    plan = _executed(spark, sf_dir, "top_revenue_supplier")
    assert "Window" not in plan, \
        "global argmax must be a broadcast scalar, not a window sort"
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "l_shipdate" in plan, \
        "quarter filter must reach the lineitem scan"


def test_small_order_part_revenue_brand_pushdown(spark, sf_dir):
    plan = _executed(spark, sf_dir, "small_order_part_revenue")
    assert "EqualTo(p_brand," in plan, \
        "brand filter must push into the part scan"
    assert "SortMergeJoin" not in plan, \
        "the brand-filtered part side and per-part averages broadcast"


def test_disjunctive_promo_revenue_or_pushdown(spark, sf_dir):
    plan = _executed(spark, sf_dir, "disjunctive_promo_revenue")
    assert "Or(" in plan and "p_brand" in plan, \
        "the OR-of-ANDs part predicate must push into the part scan"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_idle_high_balance_customers_anti_join(spark, sf_dir):
    plan = _executed(spark, sf_dir, "idle_high_balance_customers")
    assert "LeftAnti" in plan, "the no-recent-order screen is an anti join"
    assert "Window" not in plan


def test_idle_customers_threshold_membership(spark, sf_dir):
    """The screen's threshold semantics: every returned segment count
    only covers customers strictly above the average positive
    balance (recomputed here independently)."""
    from simpleetlpipeline_spark.io import read_table
    from pyspark.sql import functions as F

    out = {r["c_mktsegment"]: r["n_customers"]
           for r in S.QUERIES["idle_high_balance_customers"](
               spark, sf_dir).collect()}
    cust = read_table(spark, sf_dir, "customer")
    thr = (cust.filter(F.col("c_acctbal") > 0)
           .agg((F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double") / F.count(F.lit(1))).alias("t"))
           .collect()[0]["t"])
    eligible = cust.filter(F.col("c_acctbal") > thr).count()
    assert sum(out.values()) <= eligible


def test_copurchase_pagerank_hub_ranks_first(spark, monkeypatch):
    """A star graph (hub bought with every spoke, spokes never
    together) must rank the hub first, all spokes tied behind it."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.plans import relational
    from simpleetlpipeline_spark.plans.relational import copurchase_pagerank

    rows = []
    for o in range(6):  # orders 0..5: hub part 1 + spoke part 10+o, twice
        for rep in (0, 1):
            rows.append((o * 2 + rep * 100, 1))
            rows.append((o * 2 + rep * 100, 10 + o))
    li = [(ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1997-01-01")
          for ok, pk in rows]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            li, "l_orderkey long, l_partkey long, l_suppkey long, "
                "l_linenumber int, l_quantity double, "
                "l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, "
                "l_shipdate string"
        ).withColumn("l_shipdate", F.to_timestamp("l_shipdate")) \
         .write.parquet(os.path.join(td, "lineitem.parquet"))
        monkeypatch.setattr(relational, "PAGERANK_MIN_ORDERS", 2)
        df = copurchase_pagerank(spark, td)
        out = df.collect()
        # every star pair occurs in exactly 2 orders: at 3 no edge
        # survives, and the ranking is empty with the same columns
        monkeypatch.setattr(relational, "PAGERANK_MIN_ORDERS", 3)
        empty = copurchase_pagerank(spark, td)
        assert empty.collect() == []
        assert empty.schema == df.schema
    assert out[0]["partkey"] == 1, "hub must rank first"
    assert out[0]["degree"] == 6
    spoke_ranks = {r["rank12"] for r in out[1:]}
    assert len(spoke_ranks) == 1, "all spokes must tie exactly"
    assert out[0]["rank12"] > out[1]["rank12"]


def test_monthly_sales_retract_maintained_equals_recompute(spark, sf_dir):
    """The IVM contract itself: signed-delta maintenance must equal
    the full recompute over the post-CDC state, month for month."""
    from simpleetlpipeline_spark.plans.relational import monthly_sales_retract

    for r in monthly_sales_retract(spark, sf_dir).collect():
        assert r["total_orders"] == r["recheck_orders"], r["month"]
        assert (r["total_revenue_milli"]
                == r["recheck_revenue_milli"]), r["month"]


def test_zorder_files_beat_user_sort_on_time_span(spark, sf_dir):
    """The point of z-ordering: per-file TIME spans must be far
    tighter than a user-sorted layout's (where every file spans
    ~the whole time range), while user spans stay bounded — the
    two-dimensional skipping a single-column sort can't give."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table
    from simpleetlpipeline_spark.plans.advanced import (
        ZORDER_FILES, zorder_layout_manifest)

    zfiles = zorder_layout_manifest(spark, sf_dir).collect()
    assert len(zfiles) == ZORDER_FILES
    assert sorted(r["file_id"] for r in zfiles) == \
        list(range(1, ZORDER_FILES + 1))
    z_time_span = sum(r["hour_max"] - r["hour_min"] for r in zfiles)

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    keyed = events.select(
        "event_id", (F.col("user_id") % 65536).alias("ux"),
        (F.floor(F.unix_timestamp("ts") / 3600).cast("long") % 65536)
        .alias("tx"))
    w = Window.orderBy("ux", "event_id")
    usort = (keyed.withColumn("file_id", F.ntile(ZORDER_FILES).over(w))
             .groupBy("file_id")
             .agg((F.max("tx") - F.min("tx")).alias("span"))
             .collect())
    user_sorted_time_span = sum(r["span"] for r in usort)
    assert z_time_span < user_sorted_time_span / 2, \
        (z_time_span, user_sorted_time_span)


def test_unpivot_roundtrips_pivot(spark, sf_dir):
    """Re-aggregating the unpivoted long frame must reproduce the
    raw (day, type) counts exactly — the lossless-reshape contract,
    zeros included."""
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table
    from simpleetlpipeline_spark.plans.advanced import events_unpivot_daily

    long = events_unpivot_daily(spark, sf_dir)
    got = {(r["day"], r["event_type"]): r["n_events"]
           for r in long.collect()}
    raw = {(r["day"], r["event_type"]): r["n"]
           for r in (read_table(spark, sf_dir, "events")
                     .groupBy(F.to_date("ts").alias("day"), "event_type")
                     .agg(F.count(F.lit(1)).alias("n")).collect())}
    for k, v in raw.items():
        assert got[k] == v
    # every absent raw combination must appear as an explicit zero
    assert all(v == 0 for k, v in got.items() if k not in raw)


def test_linestatus_priority_mix_pushdown_and_partial_agg(spark, sf_dir):
    """Q12 shape: the shipdate window must reach the lineitem scan as
    a pushed range (spelled as timestamps, not year()), and the CASE
    counts must combine map-side into |linestatus| groups."""
    df = S.QUERIES["linestatus_priority_mix"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters", 1)[1][:400], "shipdate range must push to the scan"
    assert "partial_sum" in plan, "CASE counts must combine map-side"
    assert "o_comment" not in plan and "o_totalprice" not in plan, \
        "orders must prune to (orderkey, priority)"


def test_surplus_stock_suppliers_semi_join_no_window(spark, sf_dir):
    """Q20 shape: the name-filtered part dimension must plan as a
    broadcast SEMI join against the derived pair relation, part
    totals must come from an aggregate (never a window over the
    fact), and supplier/nation labels must broadcast."""
    plan = _executed(spark, sf_dir, "surplus_stock_suppliers")
    assert "LeftSemi" in plan, "part membership must be a semi join"
    assert "Window" not in plan, \
        "correlated part totals must be an agg+join, not a window"
    assert plan.count("BroadcastHashJoin") >= 2, \
        "part / supplier / nation must broadcast"
