"""Physical-plan contracts: the optimizations the engine is designed
around must actually appear in the executed plans — pushdown, column
pruning, broadcast joins, top-k, salting. Guards against regressions
that stay correct but silently lose the 100 TB plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from simpleetlpipeline_spark.operators.aggregates import salted_agg
from simpleetlpipeline_spark.plans.catalog import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_top_products_plan(spark, sf_dir):
    plan = _plan(QUERIES["top_products"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2, "dims must broadcast"
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan, "LIMIT must plan as top-k"
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" \
        in plan, "status filter must reach the parquet scan"


def test_monthly_sales_pruning(spark, sf_dir):
    plan = _plan(QUERIES["monthly_sales"](spark, sf_dir))
    # only the three needed columns are read
    assert "o_orderstatus" in plan and "o_totalprice" in plan
    assert "o_comment" not in plan and "o_clerk" not in plan
    assert "partial_count" in plan or "partial_sum" in plan, \
        "aggregate must combine map-side"


def test_customer_rollup_joins_aggregate_not_raw(spark, sf_dir):
    """The rollup must aggregate the fact side BEFORE joining (J2
    decorrelation): the join input on the orders side is an
    Aggregate, not a raw scan."""
    plan = _plan(QUERIES["customer_rollup"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    join_pos = plan.index("Join")
    assert "HashAggregate" in plan[join_pos:], \
        "fact side must be pre-aggregated under the join"


def test_salted_agg_two_stages_and_values(spark):
    df = spark.createDataFrame(
        [(k % 2, float(k)) for k in range(100)], "k int, v double")
    out = salted_agg(df, ["k"], {
        "n": ("count", "*"), "s": ("sum", "v"),
        "mx": ("max", "v"), "a": ("avg", "v")})
    plan = _plan(out)
    assert plan.count("HashAggregate") >= 4, \
        "salted agg must run two aggregate stages (partial+final each)"
    rows = {r["k"]: r for r in out.collect()}
    assert rows[0]["n"] == 50 and rows[1]["n"] == 50
    assert rows[0]["s"] == sum(float(k) for k in range(0, 100, 2))
    assert rows[1]["mx"] == 99.0
    assert abs(rows[0]["a"] - 49.0) < 1e-9


def test_salted_agg_count_avg_null_semantics(spark):
    """COUNT(col)/AVG(col) must skip nulls like SQL (ADVICE r1: the
    count partial used to count rows regardless of the column)."""
    df = spark.createDataFrame(
        [(1, 1.0), (1, None), (1, 3.0), (2, None)], "k int, v double")
    out = {r["k"]: r for r in salted_agg(df, ["k"], {
        "rows": ("count", "*"), "n_v": ("count", "v"),
        "a": ("avg", "v")}).collect()}
    assert out[1]["rows"] == 3 and out[1]["n_v"] == 2
    assert out[1]["a"] == 2.0  # (1+3)/2 non-null values, not /3 rows
    assert out[2]["rows"] == 1 and out[2]["n_v"] == 0
    assert out[2]["a"] is None


def test_salted_agg_rejects_holistic(spark):
    import pytest

    df = spark.createDataFrame([(1, 1.0)], "k int, v double")
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], {"m": ("median", "v")})


def test_no_driver_collect_in_query_construction(spark, sf_dir):
    """Building every catalog DataFrame must not trigger Spark jobs
    (no eager driver-side loops) — except the streaming replays and
    the ETL driver, which execute by contract. First construction is
    a warm-up: Spark runs one tiny parquet-footer schema job per
    fresh path, which the session's FileIndex cache then absorbs."""
    # exempt: streaming replays, the ETL driver, the iterative
    # connected-components fixpoint, and the eagerly-materialized
    # MinHash pair graph (dedup_minhash_lsh counts its persisted
    # pairs so the corpus-sized gram cache can be released) — all
    # execute by contract
    batch = {n: fn for n, fn in QUERIES.items()
             if not n.startswith("streaming_")
             and n not in ("etl_pipeline_run", "dedup_clusters",
                           "dedup_minhash_lsh", "corpus_curate_neardup",
                           # same eager pair-graph materialization
                           # contract as dedup_minhash_lsh
                           "dedup_minhash_incremental",
                           # round 12: exact-verified like minhash,
                           # same eager pair-graph count so the
                           # corpus-sized gram cache releases
                           "dedup_simhash",
                           # collects d^2 exact cross-moments for the
                           # driver-side eigh (k x d state tier)
                           "embedding_pca_report",
                           # kmeans collects k x dim centroids per
                           # round; the exact CC counts its edge list
                           # to pick the union-find/propagation regime
                           "kmeans_assign", "kmeans_cluster_purity",
                           "dedup_clusters_exact",
                           # gate-sized verify matrix collected at
                           # construction (broadcast-matrix verify;
                           # same class as kmeans' kxdim centroids)
                           "embedding_neardup_lsh",
                           "semantic_dedup_clusters",
                           # freqItems materializes its one-row
                           # sketch at construction (sanctioned
                           # one-row collect, functions/sketches.py)
                           "heavy_hitter_users",
                           # pagerank collects one scalar (node
                           # count) and persists the edge cache at
                           # construction, same class as kmeans
                           "copurchase_pagerank",
                           # runs the whole merge->compact->time-
                           # travel lifecycle by contract, then
                           # returns the 3-row collected invariant
                           # (same pattern as etl_pipeline_run)
                           "compaction_invariant",
                           # builds its JSONL fixture dir through the
                           # writer on first construction; the Python
                           # data source also plans its partitions
                           # (file listing) eagerly
                           "jsonl_ingest_rollup",
                           # collects the K x dim codebook and the
                           # probe vectors at construction (driver-
                           # built ADC tables, same class as kmeans)
                           "pq_ann_topk",
                           # runs the whole erasure drill (write v1,
                           # erase, write v2, read back counts) at
                           # construction — the etl_pipeline_run
                           # contract
                           "user_erasure_audit",
                           # iterative BPE trainer: one argmax
                           # collect + merge-apply materialization
                           # per learned round (k-means/pagerank
                           # loop contract)
                           "bpe_train_merges")}
    for fn in batch.values():
        fn(spark, sf_dir)  # warm schema/file-index caches
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    for fn in batch.values():
        fn(spark, sf_dir)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "query construction ran Spark jobs"


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    """Joining two tables bucketed on the join key must plan without
    a shuffle Exchange on either side."""
    from simpleetlpipeline_spark.io import read_table, write_bucketed

    # warehouse dir is a static conf; tables land in ./spark-warehouse
    # (gitignored) and DROP ... CASCADE below removes them.
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    items = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    write_bucketed(orders, "bktest.orders_b", "o_orderkey", n_buckets=8)
    write_bucketed(
        items.withColumnRenamed("l_orderkey", "o_orderkey"),
        "bktest.items_b", "o_orderkey", n_buckets=8)

    joined = spark.table("bktest.orders_b").join(
        spark.table("bktest.items_b"), "o_orderkey")
    plan = _plan(joined)
    assert "Exchange hashpartitioning" not in plan, \
        "bucketed join must not shuffle"
    assert joined.count() > 0
    spark.sql("DROP DATABASE bktest CASCADE")


def test_approx_reach_close_to_exact(spark, sf_dir):
    """HLL++ sketch path within 5% of exact distinct counts."""
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table

    events = read_table(spark, sf_dir, "events")
    both = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()
    for r in both:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"])


def test_asof_join_strict_semantics(spark):
    """events_asof_purchase's union-merge core: strictly-earlier
    matches only (a purchase at the event's own ts must NOT match),
    deterministic pick among same-ts purchases (max event_id)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.plans.advanced import events_asof_purchase

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: purchase@2 (two same-ts purchases: ids 10, 11),
        # view@2 (same ts -> must not match), click@5 -> matches id 11
        (10, t(2), 1, "purchase", 1.0, ""),
        (11, t(2), 1, "purchase", 1.0, ""),
        (12, t(2), 1, "view", 1.0, ""),
        (13, t(5), 1, "click", 1.0, ""),
        # user 2: no purchase -> its events drop out (inner semantics)
        (20, t(3), 2, "view", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import simpleetlpipeline_spark.plans.advanced as adv
    orig = adv.read_table
    adv.read_table = lambda _s, _d, _n: df
    try:
        out = {r["event_id"]: r for r in
               events_asof_purchase(spark, "unused").collect()}
    finally:
        adv.read_table = orig
    assert set(out) == {13}, "only the later click has a prior purchase"
    assert out[13]["purchase_event_id"] == 11
    assert out[13]["micros_since_purchase"] == 3_000_000


def test_minhash_band_candidates_plan_is_joinless(spark):
    """LSH candidate generation must stay linear at corpus scale:
    one exchange keyed on (band, bucket), per-bucket posting arrays,
    in-array pair enumeration — no join of ANY kind (the round-12
    rewrite; the old self-equi-join re-ran the signature subtree
    once per side), and certainly never a cartesian/nested-loop
    over doc pairs."""
    from simpleetlpipeline_spark.functions.dedup import band_candidates

    sig = spark.createDataFrame(
        [(i, list(range(32))) for i in range(4)],
        "doc_id long, sig array<long>")
    plan = _plan(band_candidates(sig))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, \
        "candidate generation must be join-free (in-array pairs)"
    assert "band" in plan and "bucket" in plan
    assert "Generate" in plan, "pairs must explode from posting arrays"


def test_ann_topk_plan_broadcast_probes_salted_topk(spark, sf_dir):
    """ann_topk: the corpus-x-probes join must broadcast the tiny
    probe side (BroadcastNestedLoopJoin — there is no equi key), and
    the top-k must run in two Window stages (salted partial + final)
    so no single reducer sees the whole corpus for a probe."""
    plan = _plan(QUERIES["ann_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, "probes must broadcast"
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2, \
        "top-k must be two-phase (salt buckets then final)"


def test_etl_rollup_preaggregates_before_join(spark):
    """rollup_update (J2, the correlated-UPDATE decorrelation used by
    etl_pipeline_run's customer rollup): the fact side must aggregate
    BEFORE the join and the dimension join must broadcast, so the
    join input is |groups|, not |facts|."""
    from simpleetlpipeline_spark.operators.joins import rollup_update

    dim = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string")
    facts = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], "cust long, amt double")
    out = rollup_update(dim, facts, dim_key="id", fact_key="cust",
                        count_col="amt", sum_col="amt")
    plan = _plan(out)
    join_pos = plan.index("Join")
    assert "HashAggregate" in plan[join_pos:], \
        "fact side must pre-aggregate under the join"


def test_revenue_by_nation_plan_broadcasts_dims(spark, sf_dir):
    """The Q5-shaped 6-table join must broadcast every dimension side;
    the only shuffled join is lineitem-orders on orderkey."""
    from simpleetlpipeline_spark.plans.advanced import revenue_by_nation

    plan = _plan(revenue_by_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_doc_chunk_plan_is_narrow(spark, sf_dir):
    """Chunking must stay a narrow generate (sequence+explode): no
    join, no hash-partition exchange — each task expands its own rows.
    (fan_out's round-robin repartition of a tiny single-file scan is
    the one permitted exchange.)"""
    plan = _plan(QUERIES["doc_chunk"](spark, sf_dir))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Generate explode" in plan


def test_embedding_quantize_plan_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["embedding_quantize"](spark, sf_dir))
    assert "Exchange" not in plan, "per-vector quantization must not shuffle"
    assert "Join" not in plan


def test_bpe_merge_pairs_plan_topk_partial_agg(spark, sf_dir):
    plan = _plan(QUERIES["bpe_merge_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "LIMIT must plan as top-k"
    assert "partial_count" in plan, "pair counts must combine map-side"


def test_dedup_incremental_plan_equi_join(spark, sf_dir):
    plan = _plan(QUERIES["dedup_incremental"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), \
        "fingerprint probe must be an equi-join on the md5 key"


def test_shard_manifest_plan_partial_agg(spark, sf_dir):
    plan = _plan(QUERIES["shard_manifest"](spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan, \
        "shard rollup must combine map-side"
    assert "Join" not in plan


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    """A predicate on the partition column must become a
    PartitionFilter (directory pruning), not a data filter: the scan
    lists only matching partitions and reads no other files."""
    from simpleetlpipeline_spark.io import read_table, write_partitioned

    events = read_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    write_partitioned(events, out, ["day"])

    days = [r["day"] for r in
            spark.read.parquet(out).select("day").distinct().limit(2).collect()]
    one = spark.read.parquet(out).filter(F.col("day") == days[0])
    plan = _plan(one)
    assert "PartitionFilters: [" in plan and "day" in plan.split(
        "PartitionFilters")[1][:120], "day predicate must prune partitions"
    # the day filter must NOT appear as a post-scan data filter
    pushed = plan.split("PartitionFilters")[0]
    assert "Filter (day" not in pushed
    # and the pruned read returns exactly that day's rows
    n_day = one.count()
    n_all = spark.read.parquet(out).count()
    assert 0 < n_day < n_all
    assert n_day == events.filter(F.col("day") == days[0]).count()


def test_decontaminate_broadcast_guard(spark, sf_dir, monkeypatch):
    """Below the size threshold the blocklist join carries a FORCED
    broadcast hint; above it the hint is dropped so the optimizer
    decides from statistics. Verified by disabling stats-based
    broadcast (threshold -1): the hint must still force a broadcast,
    and without it the join must fall back to a shuffled equi-join —
    i.e. an oversized blocklist can never be force-broadcast."""
    from simpleetlpipeline_spark.functions import curation
    from simpleetlpipeline_spark.functions.curation import decontaminate

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        below = _plan(decontaminate(spark, sf_dir))
        assert "BroadcastHashJoin" in below, \
            "sub-threshold blocklist must be hint-forced broadcast"
        monkeypatch.setattr(curation, "DECON_BROADCAST_MAX_BYTES", 0)
        above = _plan(decontaminate(spark, sf_dir))
        assert "BroadcastHashJoin" not in above.split("Exchange", 1)[0] \
            and ("SortMergeJoin" in above or "ShuffledHashJoin" in above), \
            "oversized blocklist must shuffle on the gram key"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_late_ship_orders_semi_join(spark, sf_dir):
    """EXISTS must plan as a LEFT SEMI join (first match wins — no
    probe-side duplication), with only the three needed order
    columns read."""
    plan = _plan(QUERIES["late_ship_orders"](spark, sf_dir))
    assert "LeftSemi" in plan, "EXISTS must become a semi join"
    assert "o_comment" not in plan and "l_extendedprice" not in plan


def test_promo_revenue_monthly_broadcast(spark, sf_dir):
    """part is the dim side: must broadcast, never sort-merge; the
    conditional sums must fold map-side (partial aggregation)."""
    plan = _plan(QUERIES["promo_revenue_monthly"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "partial_sum" in plan, "conditional sums must combine map-side"


def test_large_volume_orders_agg_below_join(spark, sf_dir):
    """Q18 shape: lineitem must be aggregated+filtered BEFORE the
    join so only the qualifying ~1% of orderkeys is joined."""
    plan = _plan(QUERIES["large_volume_orders"](spark, sf_dir))
    join_pos = plan.index("Join")
    assert "HashAggregate" in plan[join_pos:], \
        "lineitem side must be pre-aggregated under the join"


def test_copurchase_pairs_topk(spark, sf_dir):
    """Posting-list form: no self-join (pairs are emitted from the
    per-order basket array), exactly two shuffles (basket build +
    pair count), top-N as TakeOrderedAndProject."""
    plan = _plan(QUERIES["copurchase_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "LIMIT must plan as top-k"
    assert "Join" not in plan, "pair emission must not self-join"
    assert plan.count("Exchange") == 2


def test_latest_event_per_user_single_shuffle(spark, sf_dir):
    """The struct-argmax is one hash aggregate: exactly one exchange,
    no window sort over the raw events."""
    plan = _plan(QUERIES["latest_event_per_user"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_events_props_stats_jvm_side(spark, sf_dir):
    """JSON extraction must stay in codegen (get_json_object), never
    a Python stage."""
    plan = _plan(QUERIES["events_props_stats"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_pmi_plan(spark, sf_dir):
    """Pair agg must combine map-side; min_count prunes BEFORE the
    vocabulary joins; top-N plans as TakeOrderedAndProject; all JVM."""
    plan = _plan(QUERIES["bigram_pmi"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan, "pair counting must combine map-side"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_events_hourly_gapfill_spine_broadcast(spark, sf_dir):
    """The dense hour spine is the small side: it must broadcast into
    the left join (no shuffle of the aggregated counts), and the
    output must contain explicit zero rows."""
    df = QUERIES["events_hourly_gapfill"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert df.filter(F.col("n_events") == 0).count() > 0, \
        "gap fill must materialize idle buckets as zero rows"


def test_aqe_skew_join_splits_hot_partition(spark):
    """The session's skew-join conf must actually fire: a join where
    one key owns ~all rows gets its hot partition split at runtime
    (AQE rewrites the sort-merge join with skew=true). Thresholds are
    lowered so the test corpus qualifies as 'skewed' without
    generating gigabytes — the mechanism under test is identical."""
    conf_keys = [
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin."
            "skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        # force a shuffled join: broadcast would hide the skew path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # one key owns ~95% of rows and carries a fat payload; no
        # keyed aggregate ABOVE the join (that would pin the join's
        # hash distribution and make AQE decline the split)
        hot = spark.range(200_000).selectExpr(
            "CASE WHEN id % 20 != 0 THEN 0 ELSE id % 20 END AS k",
            "repeat('x', CASE WHEN id % 20 != 0 THEN 120 ELSE 1 END) "
            "AS payload")
        dim = spark.range(20).selectExpr("id AS k", "id * 10 AS v")
        joined = hot.join(dim, "k")
        assert len(joined.collect()) == 200_000, "join stays correct"
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, \
            f"AQE must split the hot partition; got:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """At 100 TB the fact table is hive-partitioned and the dim-side
    filter must prune fact PARTITIONS at runtime (DPP), not just
    rows: the fact scan's PartitionFilters must carry a
    dynamicpruning subquery when joined to a filtered dimension on
    the partition column."""
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table

    fact_dir = str(tmp_path / "events_by_type")
    (read_table(spark, sf_dir, "events")
     .write.partitionBy("event_type").parquet(fact_dir))
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("purchase", 1.0), ("view", 0.5)], "event_type string, w double"
    ).filter(F.col("w") > 0.7)
    joined = (fact.join(dim, "event_type")
              .agg(F.sum("value").alias("s")))
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), \
        "dim filter must prune fact partitions at runtime (DPP)"


def test_rolling_7d_revenue_range_frame_over_rollup(spark, sf_dir):
    """The trailing-7-day window must be a RANGE frame (a gap day
    shrinks the window) and must run over the per-(status, day)
    rollup, never over raw orders — the Window's input is an
    Aggregate."""
    plan = _plan(QUERIES["rolling_7d_revenue"](spark, sf_dir))
    assert "Window" in plan
    assert "rangebetween" in plan.lower() or "RangeFrame" in plan, \
        "frame must be RANGE over the day number, not ROWS"
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], \
        "window input must be the pre-aggregated daily rollup"
    assert "partial_sum" in plan, "daily rollup must combine map-side"


def test_negative_samples_anti_join_no_window(spark, sf_dir):
    """Rejection sampling must plan as one anti-join; the part count
    rides in as a one-row broadcast scalar; no window, no driver
    collect (the ticket is pure column arithmetic)."""
    plan = _plan(QUERIES["negative_samples"](spark, sf_dir))
    assert "LeftAnti" in plan, "accidental-positive filter is an anti join"
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        "the scalar part count must broadcast"


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """The 100 TB shuffle-join path: when a dimension is too big to
    broadcast (at scale, or autoBroadcast disabled), Catalyst must
    inject a runtime BLOOM FILTER built from the selective dim side
    and apply it to the fact scan — rows failing might_contain never
    enter the shuffle. Thresholds are lowered so the sf0.01 corpus
    qualifies; the mechanism pinned here is what keeps a
    selective-dim shuffle join linear in surviving rows, not scanned
    rows, on a real cluster."""
    conf_keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        from simpleetlpipeline_spark.io import read_table

        li = read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity")
        o = (read_table(spark, sf_dir, "orders")
             .filter(F.col("o_orderstatus") == "P").select("o_orderkey"))
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, \
            "selective dim side must build a runtime bloom filter"
        assert "might_contain" in plan, \
            "fact side must probe the bloom filter before the shuffle"
        assert "partial_bloom_filter_agg" in plan, \
            "bloom build must itself combine map-side"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shuffle_hash_hint_avoids_sorting_the_fact(spark, sf_dir):
    """The third join strategy in the 100 TB toolbox: when a dim is
    too big to broadcast but far smaller than the fact, the
    shuffle_hash hint must plan a ShuffledHashJoin — hashing the
    small side per partition instead of SORTING both sides (the
    sort of the fact side is the cost SMJ pays and SHJ doesn't).
    Pinned so the hint path keeps working on this Spark version."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from simpleetlpipeline_spark.io import read_table

        li = read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity")
        o = (read_table(spark, sf_dir, "orders")
             .select("o_orderkey", "o_orderpriority").hint("shuffle_hash"))
        plan = (li.join(o, li.l_orderkey == o.o_orderkey)
                ._jdf.queryExecution().executedPlan().toString())
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_salted_topk_identity_and_two_stage_plan(spark):
    """salted_topk == the single global window on a skewed frame
    with a total order, and its plan carries TWO window stages (the
    salted pre-rank and the bounded re-rank)."""
    from simpleetlpipeline_spark.operators.aggregates import salted_topk

    # one hot key (~90% of rows) + two normal keys; unique id breaks ties
    df = spark.range(5_000).selectExpr(
        "CASE WHEN id % 10 < 8 THEN 0 ELSE id % 3 END AS k",
        "CAST(pmod(id * 2654435761, 997) AS DOUBLE) AS v", "id")
    order = [F.col("v").desc(), F.col("id").asc()]
    got = salted_topk(df, ["k"], order, 5, n_salts=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2, "must be the two-phase form"

    from pyspark.sql import Window
    w = Window.partitionBy("k").orderBy(*order)
    want = (df.withColumn("topk_rank", F.row_number().over(w))
            .filter(F.col("topk_rank") <= 5))
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, want.select(*got.columns).collect())))


def test_ordered_pairs_emits_each_later_element_once(spark):
    """ordered_pairs on sorted arrays of size 0, 1, 2 and 4 gives
    exactly the C(n,2) a<b pairs in order, for scalar and struct
    elements (emit sees the elements themselves)."""
    from itertools import combinations

    from simpleetlpipeline_spark.operators.aggregates import ordered_pairs

    arrays = [[], [7], [3, 9], [1, 2, 5, 8]]
    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)],
                               "id int, arr array<int>")
    scalar = ordered_pairs(
        F.col("arr"), lambda x, y: F.struct(x.alias("a"), y.alias("b")))
    structs = F.transform("arr", lambda v: F.struct(
        v.alias("v"), (v * 10).alias("w")))
    nested = ordered_pairs(structs, lambda x, y: F.struct(
        x["v"].alias("a"), y["w"].alias("bw")))
    rows = df.select("id", scalar.alias("p"), nested.alias("q")) \
        .orderBy("id").collect()
    for arr, row in zip(arrays, rows):
        want = list(combinations(arr, 2))
        assert len(want) == len(arr) * (len(arr) - 1) // 2
        assert [(p["a"], p["b"]) for p in row["p"]] == want
        assert [(q["a"], q["bw"]) for q in row["q"]] == \
            [(a, b * 10) for a, b in want]


def test_cdc_latest_state_plan_argmax_folds_no_window(spark, sf_dir):
    """CDC compaction must plan as a map-side-folding argmax hash
    aggregate — a per-key window would sort the whole change log."""
    plan = _plan(QUERIES["cdc_latest_state"](spark, sf_dir))
    assert "Window" not in plan, "compaction must not window the raw log"
    assert "partial_max_by" in plan, "argmax must fold map-side"
    # only the needed columns reach the scan
    assert "props" not in plan, "unused column must be pruned"


def test_fd_audit_plan_pruned_scans_no_joins(spark, sf_dir):
    plan = _plan(QUERIES["fd_audit"](spark, sf_dir))
    for absent in ("Join", "c_name", "o_totalprice", "l_quantity"):
        assert absent not in plan, f"{absent} must not appear"
    assert "partial_count(distinct" in plan.lower() or \
        "partial_count" in plan, "count-distinct must have a partial stage"


def test_bm25_plan_topk_and_term_filter_below_agg(spark, sf_dir):
    """BM25 must TakeOrderedAndProject the top-k (no global sort
    materialization) and filter to the query terms BEFORE the
    (doc, term) aggregate so shuffle volume is matching-term
    occurrences only."""
    plan = _plan(QUERIES["bm25_doc_ranking"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # the isin() term filter must sit under a Filter, not after the agg
    assert plan.index("Filter") > -1 and "token" in plan
    assert "CartesianProduct" not in plan


def test_attribution_plan_equijoin_no_range_explosion(spark, sf_dir):
    """The interval join must be an EQUI-join on (user, bucket) —
    never a nested-loop range join over per-user event histories."""
    plan = _plan(QUERIES["revenue_attribution"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "probe_bucket" in plan, "bucketed probe keys must drive the join"


def test_chi_square_plan_single_bigdata_pass(spark, sf_dir):
    """Everything after the (segment, priority) agg is category-
    cardinality-sized: the observed-cell cache serves all three
    consumers (two distinct lists + the grid join), so the
    orders->customer join+agg pass runs ONCE."""
    plan = _plan(QUERIES["chi_square_independence"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") == 3, \
        "all three consumers must read the persisted cell table"


def test_twap_plan_one_user_shuffle(spark, sf_dir):
    """lead() window and the TWAP agg must share ONE user-keyed
    exchange (plus the one-row study-end broadcast)."""
    plan = _plan(QUERIES["user_value_twap"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, \
        "window and agg must reuse the same user-keyed shuffle"


def test_kaplan_meier_windows_never_see_raw_events(spark, sf_dir):
    """The unpartitioned KM windows run over the per-day rollup;
    the raw event scan must be aggregated (user-keyed) first."""
    plan = _plan(QUERIES["kaplan_meier_survival"](spark, sf_dir))
    # the per-day table the windows run on comes from a duration agg
    assert "duration_day" in plan
    assert "CartesianProduct" not in plan


def test_skyline_frontier_plan_two_phase_window(spark, sf_dir):
    """The skyline's 100 TB shape: the supplier dim broadcasts, the
    column-pruned fact join feeds ONE per-supplier hash agg, and the
    global (unpartitioned) window runs only on phase-1 survivors —
    there are exactly two sweep layers and no quadratic dominance
    join (no cartesian / nested-loop anywhere)."""
    plan = _plan(QUERIES["supplier_efficiency_frontier"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, "supplier dim must broadcast"
    assert plan.count("SPARK_PARTITION_ID") >= 1, \
        "phase 1 must sweep within partitions (pid-keyed window)"
    # local sweep + global sweep: two mx_lt computations, no more
    assert plan.count("__mx_lt") >= 2
    assert "l_comment" not in plan and "s_address" not in plan, \
        "scans must be column-pruned"


def test_theil_sen_scans_orders_once(spark, sf_dir):
    """The O(days^2) pair join is bounded by design, but the ORDERS
    scan is not: the persisted daily rollup must serve both join
    sides and the n_days count, so the big scan+agg runs once."""
    plan = _plan(QUERIES["revenue_trend_theil_sen"](spark, sf_dir))
    assert plan.count("InMemoryTableScan") == 3, \
        "both pair sides + n_days must read the cached daily rollup"


def test_mutual_information_single_fact_pass(spark, sf_dir):
    """The persisted cell table serves all four consumers (both
    margins, the total, and the term sum), so the events scan + hash
    agg run ONCE; everything downstream is cell-cardinality-sized."""
    plan = _plan(QUERIES["event_hour_mutual_information"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # 8 cached-read references (mi side: cells + mt + mh + tot;
    # each entropy branch: margin + tot), each re-printing the
    # cached lineage — so every events.parquet mention in the text
    # sits UNDER an InMemoryTableScan: the physical scan runs once
    assert plan.count("InMemoryTableScan") == 8, \
        "every consumer must read the persisted cell table"
    assert plan.count("events.parquet") == plan.count("InMemoryTableScan"), \
        "no uncached events scan may remain"


def test_bloom_semijoin_fact_never_shuffles(spark, sf_dir):
    """The entire probe side is broadcast joins (3 word lookups +
    the member flag): no SortMergeJoin may touch the orders scan,
    and orders is read exactly once."""
    plan = _plan(QUERIES["bloom_semijoin_reduction"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("orders.parquet") == 1, \
        "the fact table must be scanned exactly once"


def test_two_pass_global_window_identity(spark):
    """two_pass_global_window == the naive unpartitioned window
    (row_number, inclusive prefix sum, ntile via ntile_from_rank)
    on a frame with duplicate keys straddling bucket boundaries,
    and its main input never passes through Exchange
    SinglePartition — only the <= n_buckets spine does."""
    from pyspark.sql import Window

    from simpleetlpipeline_spark.operators.aggregates import (
        ntile_from_rank, two_pass_global_window)

    # clustered + duplicated keys; id is the unique tiebreaker
    df = spark.range(3_000).selectExpr(
        "CAST(pmod(id * 37, 100) AS BIGINT) AS k",
        "id", "id % 7 + 1 AS v").repartition(13)
    got = two_pass_global_window(
        df, "k", [F.col("k"), F.col("id")], value_col="v",
        n_buckets=16, rank_out="r", cum_out="c",
        total_rows_out="n", total_value_out="tv")
    w = Window.orderBy("k", "id")
    want = df.select(
        "k", "id", "v",
        F.row_number().over(w).cast("long").alias("r"),
        F.sum("v").over(w.rowsBetween(
            Window.unboundedPreceding, 0)).alias("c"))
    gm = {(r.k, r.id): (r.r, r.c, r.n, r.tv) for r in got.collect()}
    for r in want.collect():
        rr, cc, nn, tv = gm[(r.k, r.id)]
        assert (rr, cc) == (r.r, r.c), (r.k, r.id)
        assert (nn, tv) == (3_000, sum(i % 7 + 1 for i in range(3_000)))

    # ntile_from_rank == SQL ntile for every n, incl. n > N
    for n in (1, 3, 7, 16, 50):
        tiled = got.select(
            "k", "id", ntile_from_rank(F.col("r"), F.col("n"), n)
            .alias("t"))
        wt = {(r.k, r.id): r.t for r in df.select(
            "k", "id", F.ntile(n).over(w).alias("t")).collect()}
        for r in tiled.collect():
            assert r.t == wt[(r.k, r.id)], (n, r.k, r.id)

    # plan contract: the only SinglePartition exchange feeds the
    # bucket-count spine (below a HashAggregate), never the row tier
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    for frag in plan.split("Exchange SinglePartition")[1:]:
        assert "HashAggregate" in frag[:2000], \
            "SinglePartition exchange must sit above the bucket spine"


def test_rewritten_samplers_no_row_tier_single_partition_window(
        spark, sf_dir):
    """The six queries the round-5 verdict flagged for unpartitioned
    global windows (quality_bins, token_weighted_sample,
    priority_sample_docs, zorder_layout_manifest,
    customer_rfm_segments, revenue_concentration) must never move a
    row/doc/customer-tier frame through Exchange SinglePartition: in
    the two-pass form, every SinglePartition exchange sits directly
    above an aggregate (the <= n_buckets bucket spine / one-row
    scalar), so the fragment BELOW it is a HashAggregate or
    SortAggregate — never a raw FileScan or a wide shuffle."""
    from simpleetlpipeline_spark.functions.pretrain import (
        priority_sample_docs, quality_bins, token_weighted_sample)
    from simpleetlpipeline_spark.plans.advanced import (
        customer_rfm_segments, revenue_concentration,
        zorder_layout_manifest)

    for fn in (quality_bins, token_weighted_sample,
               priority_sample_docs, zorder_layout_manifest,
               customer_rfm_segments, revenue_concentration):
        plan = _plan(fn(spark, sf_dir))
        frags = plan.split("Exchange SinglePartition")
        for frag in frags[1:]:
            head = frag[:2500]
            assert ("HashAggregate" in head or "SortAggregate" in head
                    or "InMemoryTableScan" in head), \
                f"{fn.__name__}: SinglePartition exchange over a " \
                f"non-aggregate (row-tier) frame:\n{head}"


def test_cf_holdout_hitrate_shares_scans_and_broadcasts_neighbors(
        spark, sf_dir):
    """cf_holdout_hitrate's round-6 shape: ONE orders x lineitem
    join covers both cutoff sides (persisted all_items, 3 consumers),
    the distinct train user-item set persists once for its 3
    consumers (rec-set build, already-bought anti-join, eval-user
    semi-join), and the |items| x k neighbor table broadcasts into
    the rec-set join. Cached lineage repeats per consumer in the
    plan string, so count InMemoryTableScan (not FileScan)."""
    plan = _plan(QUERIES["cf_holdout_hitrate"](spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 6, \
        "both persists (all_items, train_oi) must serve 3 consumers"
    assert plan.count("BroadcastHashJoin") >= 1, \
        "the neighbor table must broadcast into the rec-set join"


def test_two_pass_global_window_constant_key_degenerate(spark):
    """All-equal bucketing keys collapse to ONE bucket (span == 0)
    — the documented degenerate case must still produce exact ranks,
    prefix sums, and totals (it just pays the single sort the naive
    window always pays)."""
    from simpleetlpipeline_spark.operators.aggregates import (
        two_pass_global_window)

    df = spark.range(500).selectExpr(
        "CAST(7 AS BIGINT) AS k", "id", "CAST(2 AS BIGINT) AS v") \
        .repartition(7)
    got = two_pass_global_window(
        df, "k", [F.col("k"), F.col("id")], value_col="v",
        n_buckets=32, rank_out="r", cum_out="c",
        total_rows_out="n", total_value_out="tv")
    rows = {r.id: r for r in got.collect()}
    for i in range(500):
        assert rows[i].r == i + 1
        assert rows[i].c == 2 * (i + 1)
        assert rows[i].n == 500 and rows[i].tv == 1000


def test_no_tz_sensitive_calendar_exprs_in_catalog_plans(spark, sf_dir):
    """Timezone-independence contract for the WHOLE oracled catalog
    (round-6 verdict tasks #1/#3): no analyzed plan may contain a
    session-timezone-parameterised calendar expression over a raw
    TIMESTAMP column, nor a string->timestamp literal cast. These are
    exactly the expression classes that shifted midnight-UTC instants
    into the adjacent day/month in the round-5/6 driver reds
    (reproduction in tests/test_dates.py); the pure replacements live
    in operators/dates.py.

    Streaming entries are checked textually (their plans only form
    inside a running query): streaming/*.py must not call the risky
    pyspark functions at all — window()/session_window() are
    epoch-aligned instant arithmetic and remain allowed.
    """
    import re

    # Fixture-derived timestamp columns (ADVICE r7: a future table /
    # column with a new timestamp name must not slip past the
    # field-extraction branch), plus the in-plan ALIASES queries
    # give renamed timestamp columns (not derivable from schemas).
    import pyarrow.parquet as pq
    fixture_ts = set()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents",
              "embeddings"):
        schema = pq.read_schema(f"{sf_dir}/{t}.parquet")
        for fld in schema:
            if str(fld.type).startswith("timestamp"):
                fixture_ts.add(fld.name)
    assert {"o_orderdate", "l_shipdate", "ts"} <= fixture_ts
    ts_cols = "|".join(sorted(
        fixture_ts | {"p_ts", "view_ts", "purchase_ts"}))
    risky = re.compile(
        # tz-carrying rendering/bucketing functions, any input
        r"\b(date_format|to_date|date_trunc|from_unixtime"
        r"|unix_timestamp|to_timestamp|to_utc_timestamp"
        r"|from_utc_timestamp|convert_timezone)\("
        # calendar-field extraction directly over a timestamp column
        rf"|\b(year|month|hour|minute|second|quarter|weekofyear"
        rf"|dayofweek|dayofmonth|dayofyear|weekday)\(({ts_cols})#"
        # implicit timestamp->date cast (tz-resolved at analysis)
        rf"|cast\(({ts_cols})#\d+ as date\)"
        # string literal -> timestamp cast (tz-parsed at analysis)
        r"|cast\(\d{4}-\d{2}-\d{2}(?: \d{2}:\d{2}:\d{2})? as timestamp\)")

    # Same construction-side-effect exemptions as the collect test,
    # minus the ones that merely collect (their plans still form):
    # these run whole write/erase/train cycles at construction
    # (bpe_train_merges returns a LocalRelation of learned merges —
    # no timestamp ever reaches its plan).
    skip = {"etl_pipeline_run", "user_erasure_audit",
            "bpe_train_merges"}
    offenders = {}
    for name, fn in QUERIES.items():
        if name in skip or name.startswith("streaming_"):
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
        hits = sorted({m.group(0) for m in risky.finditer(plan)})
        if hits:
            offenders[name] = hits
    assert not offenders, f"tz-sensitive calendar exprs: {offenders}"

    import glob as _glob
    import os as _os
    stream_dir = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "simpleetlpipeline_spark", "streaming")
    src_risky = re.compile(
        r"F\.(date_format|to_date|date_trunc|from_unixtime"
        r"|unix_timestamp|to_utc_timestamp|from_utc_timestamp"
        r"|year|month|hour|minute|second|weekday|dayofweek)\(")
    for path in _glob.glob(_os.path.join(stream_dir, "*.py")):
        src = open(path).read()
        assert not src_risky.search(src), \
            f"tz-sensitive calendar call in {path}"


def test_two_pass_window_null_keys(spark):
    """Identity contract for nullable bucketing keys: the helper must
    match the unpartitioned window it replaces, which ranks NULLs
    FIRST under ASC ordering (NULL keys used to get a NULL bucket and
    silently drop out of the spine join)."""
    from pyspark.sql import Window

    from simpleetlpipeline_spark.operators.aggregates import (
        two_pass_global_window,
    )

    rows = [(None, 10), (5, 1), (None, 20), (1, 2), (9, 3), (1, 4)]
    df = spark.createDataFrame(rows, "k int, uid int")
    got = two_pass_global_window(
        df, "k", order_cols=[F.col("k"), F.col("uid")],
        n_buckets=4, rank_out="r")
    want = df.select(
        "k", "uid",
        F.row_number().over(
            Window.orderBy(F.asc("k"), F.asc("uid"))).cast("long")
        .alias("r"))
    assert ({r.uid: (r.k, r.r) for r in got.collect()}
            == {r.uid: (r.k, r.r) for r in want.collect()})
    # all-NULL keys: every row still present, ordered by tiebreaker
    df2 = spark.createDataFrame(
        [(None, 3), (None, 1), (None, 2)], "k int, uid int")
    got2 = two_pass_global_window(
        df2, "k", order_cols=[F.col("k"), F.col("uid")],
        n_buckets=4, rank_out="r")
    assert sorted((r.uid, r.r) for r in got2.collect()) == \
        [(1, 1), (2, 2), (3, 3)]


def test_two_pass_window_key_bounds_identity(spark):
    """key_bounds (static-domain fast path, round 13) must produce
    the exact ranks of both the measured-min/max form and the plain
    unpartitioned window — including NULL keys and keys OUTSIDE the
    declared bounds (clamped monotonically into the edge buckets) —
    and must not add a min/max scalar subtree to the plan."""
    from pyspark.sql import Window

    from simpleetlpipeline_spark.operators.aggregates import (
        two_pass_global_window,
    )

    rows = [(None, 10), (5, 1), (-3, 7), (120, 8), (None, 20),
            (1, 2), (9, 3), (1, 4), (64, 5), (100, 6)]
    df = spark.createDataFrame(rows, "k int, uid int")
    got = two_pass_global_window(
        df, "k", order_cols=[F.col("k"), F.col("uid")],
        n_buckets=4, rank_out="r", key_bounds=(0.0, 100.0))
    want = df.select(
        "k", "uid",
        F.row_number().over(
            Window.orderBy(F.asc("k"), F.asc("uid"))).cast("long")
        .alias("r"))
    assert ({r.uid: (r.k, r.r) for r in got.collect()}
            == {r.uid: (r.k, r.r) for r in want.collect()})
    # the min/max scalar aggregate must be gone from the plan
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "__mn" not in plan and "__mx" not in plan


def test_ts_lit_predicates_push_to_parquet(spark, sf_dir):
    """ts_lit builds timestamp literals via timestamp_micros, which
    Catalyst must constant-fold so range predicates still reach the
    scan — losing pushdown would make the tz fix a 100TB regression."""
    import re

    from simpleetlpipeline_spark.plans.catalog import QUERIES

    df = QUERIES["shipping_priority_orders"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert "GreaterThan(l_shipdate," in pushed
    assert "LessThan(o_orderdate," in pushed


def test_revenue_cube_expands_base_grid_not_fact(spark, sf_dir):
    """revenue_cube_nation_segment's 100 TB contract: Spark plans
    CUBE via Expand (one replica of every input row per grouping
    set), so the Expand must consume the <= |nations|x|segments|
    base aggregate, NEVER the orders scan — i.e. in the plan tree
    the fragment below Expand contains an aggregate, and both dims
    broadcast into the fact join."""
    from simpleetlpipeline_spark.plans.relational import (
        revenue_cube_nation_segment,
    )

    plan = _plan(revenue_cube_nation_segment(spark, sf_dir))
    assert "Expand" in plan, "cube should plan via Expand"
    below = plan.split("Expand", 1)[1]
    assert "HashAggregate" in below[:4000], \
        "Expand must sit above the pre-aggregated base grid"
    assert plan.count("BroadcastHashJoin") >= 2, \
        "customer and nation dims must broadcast into the fact scan"
    rows = revenue_cube_nation_segment(spark, sf_dir).collect()
    grand = [r for r in rows if r["g_nation"] == 1 and r["g_segment"] == 1]
    assert len(grand) == 1
    per_pair = [r for r in rows
                if r["g_nation"] == 0 and r["g_segment"] == 0]
    assert grand[0]["n_orders"] == sum(r["n_orders"] for r in per_pair)
    assert grand[0]["revenue_milli"] == sum(
        r["revenue_milli"] for r in per_pair)


def test_fuzzy_name_level_equals_row_level(spark, sf_dir):
    """The round-9 name-level rewrite of fuzzy_name_neighbors must be
    an EXACT algebraic rewrite of the round-5 row-level blocked
    self-join — every per-part count, best distance, and tie-broken
    nearest id identical."""
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table
    from simpleetlpipeline_spark.plans.advanced import (
        fuzzy_name_neighbors,
    )

    parts = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name",
        F.split("p_name", " ")[0].alias("blk"),
        F.length("p_name").alias("ln"))
    a = parts.select(F.col("p_partkey").alias("a_id"),
                     F.col("p_name").alias("a_name"), "blk",
                     F.col("ln").alias("a_ln"))
    b = parts.select(F.col("p_partkey").alias("b_id"),
                     F.col("p_name").alias("b_name"), "blk",
                     F.col("ln").alias("b_ln"))
    pairs = (
        a.join(b, "blk")
        .filter((F.col("a_id") != F.col("b_id"))
                & (F.abs(F.col("a_ln") - F.col("b_ln")) <= 2))
        .withColumn("lev", F.levenshtein("a_name", "b_name"))
        .filter(F.col("lev") <= 2))
    agg = (pairs.groupBy("a_id")
           .agg(F.count(F.lit(1)).alias("n_neighbors"),
                F.min(F.struct("lev", "b_id")).alias("m")))
    row_level = {
        r["p_partkey"]: (r["n_neighbors"], r["best_lev"],
                         r["nearest_id"])
        for r in (
            parts.select(F.col("p_partkey").alias("a_id"))
            .join(agg, "a_id", "left")
            .select(F.col("a_id").alias("p_partkey"),
                    F.coalesce("n_neighbors", F.lit(0))
                    .alias("n_neighbors"),
                    F.coalesce(F.col("m.lev"), F.lit(-1)).cast("int")
                    .alias("best_lev"),
                    F.coalesce(F.col("m.b_id"), F.lit(-1))
                    .alias("nearest_id"))
        ).collect()}
    name_level = {
        r["p_partkey"]: (r["n_neighbors"], r["best_lev"],
                         r["nearest_id"])
        for r in fuzzy_name_neighbors(spark, sf_dir).collect()}
    assert name_level == row_level
