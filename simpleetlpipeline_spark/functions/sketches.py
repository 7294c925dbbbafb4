"""Approximate-aggregate (sketch) operators over the events table.

At 100 TB exact COUNT(DISTINCT) and exact percentiles are shuffle-
bound: every value must reach the aggregator. The sketch forms —
HyperLogLog++ (approx_count_distinct) and the Greenwald-Khanna /
KLL-style quantile summary (approx_percentile) — are mergeable
fixed-size state: each partition builds a small sketch, the shuffle
moves sketches instead of values, and accuracy is a tunable knob.
These are the cardinality/latency workhorses of any corpus-stats or
telemetry rollup.

Oracle strategy: a DuckDB oracle cannot reproduce Spark's sketch
internals, so each query emits the EXACT value (computed by Spark,
hash-compared against DuckDB's exact value) alongside a boolean
`*_ok` that asserts the sketch landed within its documented error
bound — the oracle's literal TRUE only matches when the sketch
actually did. Same pattern as media_feature_extract's l2_norm=1.0:
the deterministic projection is hash-checked, the engine-specific
part is bounds-checked.

Reference parity: the reference has no approximate aggregates
(SURVEY §2.5 'No ... approximate aggregates exist'); these extend
the engine per the build brief's scale mandate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simpleetlpipeline_spark.io import read_table

#: HLL relative standard deviation; the _ok bound allows 3 sigma.
HLL_RSD = 0.02
#: approx_percentile accuracy knob (rank error <= n/accuracy) and the
#: quantile slack the _ok bound allows on either side.
PCTL_ACCURACY = 10_000
PCTL_EPS = 0.005
PCTL_PS = (0.5, 0.9, 0.99)


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type user reach: exact distinct count (hash-checked)
    plus an HLL++ estimate asserted within 3*rsd of it.

    One aggregate pass computes both: at scale you would keep ONLY
    the HLL (partial_approx_count_distinct merges sketch registers
    map-side; the exact distinct needs a (type, user) de-dup shuffle
    first) — the exact column exists here to be the oracle's witness.
    """
    events = read_table(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=HLL_RSD)
    exact = F.count_distinct("user_id")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact.alias("n_users_exact"),
            (F.abs(approx - exact) <= 3 * HLL_RSD * exact).alias("hll_ok"),
        )
    )


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quantiles: exact p50 (hash-checked, both
    engines interpolate at rank (n-1)*p) plus sketch estimates for
    p50/p90/p99 asserted to land between the exact quantiles at
    p-eps and p+eps.

    The sketch path (approx_percentile) is the one that scales — its
    summary state is bounded and mergeable; the exact percentile()
    columns exist as the oracle's witness and bound rails.
    """
    events = read_table(spark, sf_dir, "events")

    def ok(p: float) -> F.Column:
        a = F.approx_percentile("value", F.lit(p), F.lit(PCTL_ACCURACY))
        lo = F.percentile("value", F.lit(max(p - PCTL_EPS, 0.0)))
        hi = F.percentile("value", F.lit(min(p + PCTL_EPS, 1.0)))
        return (a >= lo) & (a <= hi)

    p50_exact = F.floor(F.percentile("value", F.lit(0.5)) * 10000) / 10000
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            p50_exact.alias("p50_exact"),
            *[ok(p).alias(f"p{int(p * 100)}_ok") for p in PCTL_PS],
        )
    )


QUERIES = {
    "approx_distinct_users": approx_distinct_users,
    "quantile_sketch": quantile_sketch,
}

ORACLE_SQL = {
    "approx_distinct_users": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               TRUE AS hll_ok
        FROM events
        GROUP BY 1
    """,
    "quantile_sketch": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               floor(quantile_cont(value, 0.5) * 10000) / 10000 AS p50_exact,
               TRUE AS p50_ok,
               TRUE AS p90_ok,
               TRUE AS p99_ok
        FROM events
        GROUP BY 1
    """,
}


HH_TOP_K = 10
#: Default freqItems support (KSP one-pass counters, ~1/support state,
#: mergeable): every item with relative frequency > support is
#: guaranteed present. The guarantee is data-dependent, so the query
#: tightens support per run (below) rather than trusting this default.
HH_SUPPORT = 1e-4
#: Spark's freqItems API itself requires support in [1e-4, 1] (state
#: bound: 1/support counters). If the k-th heavy hitter's share is
#: below 2x this floor (found at 10x corpus in the sf1 scale run —
#: flatter user distribution pushed kth_share/2 to 4.95e-5), the
#: no-false-negative guarantee cannot be bought within the API's
#: state bound and membership is NOT asserted for that run.
HH_SUPPORT_FLOOR = 1e-4


def heavy_hitter_users(spark: SparkSession, sf_dir: str,
                       k: int = HH_TOP_K) -> DataFrame:
    """Frequent-items (heavy hitters): the exact top-k users by event
    count (hash-checked, deterministic tie-break) plus a boolean
    asserting each appears in the freqItems misra-gries-style sketch.

    freqItems' no-false-negative guarantee only covers items with
    relative frequency > support, so support is chosen FROM THE DATA:
    half the k-th hitter's observed share (capped at HH_SUPPORT,
    floored at HH_SUPPORT_FLOOR for bounded state). With support
    strictly below the k-th share the guarantee provably applies to
    all k rows; if the k-th share is at/below the floor (possible on
    very flat distributions at large volume) the guarantee cannot be
    bought at bounded state and sketch_ok degrades to TRUE-by-contract
    for that run instead of asserting a property the sketch never
    promised.

    The sketch pass is the one that scales: ~1/support counters per
    partition, merged once, no per-user shuffle. The exact top-k
    (groupBy user -> TakeOrdered) is the oracle witness; its k-row
    collect (to learn the k-th share) is the sanctioned small collect.
    """
    events = read_table(spark, sf_dir, "events")
    top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(k)
    )
    top_rows = top.collect()
    total = events.count()
    kth_share = (top_rows[-1]["n_events"] / total) if top_rows else 0.0
    support = min(HH_SUPPORT, kth_share / 2)
    guaranteed = support >= HH_SUPPORT_FLOOR and kth_share > support
    if guaranteed:
        sketch = set(
            events.select("user_id").stat.freqItems(
                ["user_id"], support).collect()[0][0])
    else:
        sketch = None
    # The k result rows are already on the driver (the sanctioned
    # small collect above); returning `top` would re-run the whole
    # groupBy + TakeOrdered when the caller acts on it (round 13,
    # guide §1 — two jobs re-deriving 10 known rows). Re-enter
    # through pandas/Arrow and check sketch membership in Python —
    # identical rows, identical sketch_ok semantics.
    pdf = pd.DataFrame({
        "user_id": [r["user_id"] for r in top_rows],
        "n_events": [r["n_events"] for r in top_rows],
        "sketch_ok": [sketch is None or r["user_id"] in sketch
                      for r in top_rows],
    })
    return spark.createDataFrame(
        pdf, "user_id long, n_events long, sketch_ok boolean")


QUERIES["heavy_hitter_users"] = heavy_hitter_users

ORACLE_SQL["heavy_hitter_users"] = f"""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           TRUE AS sketch_ok
    FROM events
    GROUP BY 1
    ORDER BY n_events DESC, user_id ASC
    LIMIT {HH_TOP_K}
"""


HLL_SHARDS = 4
HLL_LGK = 14  # DataSketches lgConfigK: rsd ~ 1.04/sqrt(2^14) ~ 0.8%


def hll_shard_merge(spark: SparkSession, sf_dir: str,
                    n_shards: int = HLL_SHARDS) -> DataFrame:
    """The property the 100 TB swap-ins in this repo lean on, proven
    in-plan: HLL sketches are mergeable — per-shard sketches unioned
    estimate the same cardinality as one pass over all the data, so
    distinct counts can run per-partition / per-day / per-shard and
    combine later without rescanning (the count_distinct rewrite
    every warehouse rollup at scale uses). The guarantee is
    WITHIN-SKETCH-ERROR agreement, not bitwise equality: sparse-mode
    sketches (small cardinalities) merge exactly, but once the
    union path promotes to dense HLL its estimate can differ from
    the single-pass sketch by a fraction of the rsd (measured 0.28%
    at 15k distinct, lgK=14, rsd ~0.8% — the sf1 sweep caught the
    too-strong bitwise form of this assertion).

    Per event_type: the exact distinct-user count (hash-checked),
    whether |union-of-shards - single-pass| <= 6*rsd*exact
    (merge consistency), and whether the merged estimate lands
    within 8*rsd of exact.

    Bound tiers (round-6 hardening): the gated booleans use LOOSE
    bounds (6*rsd / 8*rsd, tail probability ~1e-9) because the
    DuckDB oracle can only hardcode TRUE — it cannot reproduce an
    HLL estimate, so any boolean in a hash-exact gate must be
    certainly-true-absent-a-bug, or a statistical tail draw at a new
    scale factor reds the gate with no actual defect (the bitwise
    form of this assertion already broke once at sf1).  The TIGHT
    scientific bounds (3*rsd merge gap, 5*rsd estimate error) are
    asserted in tests/test_stats_ops.py where an epsilon compare is
    possible.

    Plan: one shard-local sketch agg (map-side partials — a sketch
    IS the partial state), one union agg of n_shards tiny binaries,
    one exact distinct for the audit column. At 100 TB you keep the
    per-shard sketches as a materialized rollup and drop the exact
    pass — the booleans here are the evidence that's safe.
    """
    events = read_table(spark, sf_dir, "events").select(
        "event_type", "user_id",
        (F.col("user_id") % n_shards).alias("shard"))
    per_shard = (
        events.groupBy("event_type", "shard")
        .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk")))
    merged = (
        per_shard.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
             .alias("merged_est")))
    direct = (
        events.groupBy("event_type")
        .agg(F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(HLL_LGK)))
            .alias("direct_est"),
            F.count_distinct("user_id").alias("exact_distinct")))
    rsd = 1.04 / (2 ** HLL_LGK) ** 0.5
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type", "exact_distinct",
            (F.abs(F.col("merged_est") - F.col("direct_est"))
             <= F.lit(6 * rsd) * F.col("exact_distinct"))
            .alias("merge_consistent"),
            (F.abs(F.col("merged_est") - F.col("exact_distinct"))
             <= F.lit(8 * rsd) * F.col("exact_distinct"))
            .alias("estimate_ok"))
        .orderBy("event_type")
    )


QUERIES["hll_shard_merge"] = hll_shard_merge

ORACLE_SQL["hll_shard_merge"] = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS merge_consistent,
           TRUE AS estimate_ok
    FROM events
    GROUP BY 1
    ORDER BY 1
"""


def hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every pair of event types: exact
    |A|, |B|, |A∩B|, |A∪B| and Jaccard (all hash-checked), plus an
    HLL inclusion-exclusion estimate of the intersection —
    est(A) + est(B) - est(A∪B) — asserted within its propagated
    error bound. Sketch ALGEBRA is the point: HLLs union natively
    (merge registers) but have no intersect, so engines estimate
    overlap exactly this way; at 100 TB you keep one sketch per
    audience (fixed bytes) and answer any pairwise overlap without
    re-scanning either audience.

    Exact side: one (type, user) de-dup shuffle; per-user type sets
    explode into co-occurring pairs via a JVM higher-order function
    (no user-keyed self-join — a user belongs to at most |types|
    audiences, so the pair fan-out is C(|types|, 2) per user, not
    row x row). Sketch side: events cross-joined with the broadcast
    ~|types|-row type list to tag each row with its pairs, then ONE
    hash agg whose map-side partially-merged HLL registers do the
    heavy lifting. Pairs that share no user are dropped on both
    engines (inner join against the exact pair table).

    Error bound: each of the three estimates carries rsd-relative
    error on ITS cardinality, so the intersection bound is
    rsd * (|A| + |B| + |A∪B|) scaled by a confidence factor.  The
    GATED boolean uses 6x (certainly-true-absent-a-bug: the
    literal-TRUE oracle cannot reproduce an HLL estimate, so a
    3-sigma tail draw at a new scale factor must not red the gate);
    the tight 3x scientific bound is asserted in
    tests/test_stats_ops.py."""
    events = read_table(spark, sf_dir, "events")
    ut = events.select(F.col("event_type").alias("t"),
                       F.col("user_id").alias("u")).distinct()

    per_type = ut.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    pairs_expr = F.expr(
        "flatten(transform(ts, (x, i) -> "
        "transform(slice(ts, i + 2, size(ts)), "
        "y -> struct(x AS t1, y AS t2))))")
    both = (ut.groupBy("u")
            .agg(F.array_sort(F.collect_set("t")).alias("ts"))
            .select(F.explode(pairs_expr).alias("p"))
            .groupBy(F.col("p.t1").alias("t1"),
                     F.col("p.t2").alias("t2"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_both")))

    types = events.select(F.col("event_type").alias("ot")).distinct()
    tagged = (events.join(
        F.broadcast(types),
        F.col("event_type") != F.col("ot"))
        .select(F.least("event_type", "ot").alias("t1"),
                F.greatest("event_type", "ot").alias("t2"),
                "user_id"))
    union_est = tagged.groupBy("t1", "t2").agg(
        F.approx_count_distinct("user_id", rsd=HLL_RSD)
        .alias("est_union"))
    type_est = events.groupBy(F.col("event_type").alias("t")).agg(
        F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("est"))

    na, nb = F.col("a.n"), F.col("b.n")
    n_union = (na + nb - F.col("n_both")).cast("bigint")
    est_int = (F.col("ea.est") + F.col("eb.est") - F.col("est_union"))
    bound = 6 * HLL_RSD * (na + nb + (na + nb - F.col("n_both")))
    return (both
            .join(F.broadcast(per_type.alias("a")),
                  F.col("t1") == F.col("a.t"))
            .join(F.broadcast(per_type.alias("b")),
                  F.col("t2") == F.col("b.t"))
            .join(F.broadcast(type_est.alias("ea")),
                  F.col("t1") == F.col("ea.t"))
            .join(F.broadcast(type_est.alias("eb")),
                  F.col("t2") == F.col("eb.t"))
            .join(F.broadcast(union_est), ["t1", "t2"])
            .select(
                "t1", "t2",
                na.alias("n_t1"), nb.alias("n_t2"), F.col("n_both"),
                n_union.alias("n_union"),
                (F.floor(F.col("n_both").cast("double")
                         / n_union.cast("double") * 1e6) / 1e6)
                .alias("jaccard"),
                (F.abs(est_int - F.col("n_both")) <= bound)
                .alias("hll_ok"))
            .orderBy("t1", "t2"))


QUERIES["hll_audience_overlap"] = hll_audience_overlap

ORACLE_SQL["hll_audience_overlap"] = """
    WITH ut AS (
        SELECT DISTINCT event_type AS t, user_id AS u FROM events
    ), tc AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1
    ), both_t AS (
        SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
        GROUP BY 1, 2
    )
    SELECT b.t1, b.t2, ta.n AS n_t1, tb.n AS n_t2, b.n_both,
           CAST(ta.n + tb.n - b.n_both AS BIGINT) AS n_union,
           floor(CAST(b.n_both AS DOUBLE)
                 / CAST(ta.n + tb.n - b.n_both AS DOUBLE) * 1e6)
               / 1e6 AS jaccard,
           TRUE AS hll_ok
    FROM both_t b
    JOIN tc ta ON b.t1 = ta.t
    JOIN tc tb ON b.t2 = tb.t
    ORDER BY 1, 2
"""


# Count-Min sketch ---------------------------------------------------
#
# d=3 counter rows x w=1024 counters (~24 KiB of int64 state). Same
# integer hash family as the Bloom filter (plans/advanced.py): pos =
# ((key mod P) * a + b) mod P mod W with every product bounded by
# 2^62, so Spark and DuckDB agree bit-for-bit at any scale factor.
_CMS_P = 2_147_483_647
_CMS_W = 1024
_CMS_HASHES = ((1597334677, 15487469),
               (1203793907, 28491121),
               (784387469, 37482901))


def _cms_pos(key, a: int, b: int):
    return ((key % _CMS_P) * a + b) % _CMS_P % _CMS_W


def cms_user_event_counts(spark: SparkSession,
                          sf_dir: str, k: int = 20) -> DataFrame:
    """Count-Min sketch point queries: build a 3x1024 integer CMS
    over per-user event occurrences, then for the top-k users by
    exact count report the exact count, the CMS estimate
    (min over the 3 counter rows), the overestimate, and the
    one-sided guarantee flag (a CMS may over-count via collisions,
    NEVER under-count — `cms_ok` is a hard invariant, not a bound).

    THE 100 TB mechanism: frequency queries without a per-key
    shuffle. The sketch build is a map-side combine into at most
    d*w = 3,072 groups — each partition folds its rows into a local
    24 KiB counter array and the shuffle moves counters, not events;
    adding streams/shards is counter addition (CMS state is a
    commutative monoid). The exact per-user rollup here exists only
    as the oracle's witness for the top-k probes.

    Determinism: counters are exact int64 sums of the same integer
    hash positions in both engines; the estimate is least() over
    three exact integers; top-k cutoff ties break by user_id.

    Shape: one events scan -> explode(3) -> hash agg to <=3,072
    counters (persisted: feeds 3 probe joins); a per-user agg +
    top-k for the witness; 3 broadcast counter lookups."""
    from simpleetlpipeline_spark.cache import track

    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("u"))

    entries = ev.select(F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 _cms_pos(F.col("u"), a, b).alias("p"))
        for j, (a, b) in enumerate(_CMS_HASHES)])).alias("e"))
    counters = track(
        entries.groupBy(F.col("e.j").alias("j"),
                        F.col("e.p").alias("p"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist())

    top = (ev.groupBy("u")
           .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
           .orderBy(F.desc("exact_cnt"), F.asc("u"))
           .limit(k))
    probe = top
    for j, (a, b) in enumerate(_CMS_HASHES):
        side = (counters.filter(F.col("j") == j)
                .select(F.col("p").alias(f"p{j}"),
                        F.col("c").alias(f"c{j}")))
        probe = probe.join(
            F.broadcast(side),
            _cms_pos(F.col("u"), a, b) == F.col(f"p{j}"))
    est = F.least("c0", "c1", "c2")
    return (probe.select(
        F.col("u").alias("user_id"), "exact_cnt",
        est.alias("cms_est"),
        (est - F.col("exact_cnt")).alias("overestimate"),
        (est >= F.col("exact_cnt")).alias("cms_ok"))
        .orderBy(F.desc("exact_cnt"), F.asc("user_id")))


QUERIES["cms_user_event_counts"] = cms_user_event_counts

ORACLE_SQL["cms_user_event_counts"] = """
    WITH ev AS (
        SELECT CAST(user_id AS BIGINT) AS u FROM events
    ), entries AS (
        SELECT 0 AS j, ((u % 2147483647) * 1597334677 + 15487469)
               % 2147483647 % 1024 AS p FROM ev
        UNION ALL
        SELECT 1, ((u % 2147483647) * 1203793907 + 28491121)
               % 2147483647 % 1024 FROM ev
        UNION ALL
        SELECT 2, ((u % 2147483647) * 784387469 + 37482901)
               % 2147483647 % 1024 FROM ev
    ), counters AS (
        SELECT j, p, CAST(count(*) AS BIGINT) AS c
        FROM entries GROUP BY 1, 2
    ), top AS (
        SELECT u, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM ev GROUP BY u
        ORDER BY exact_cnt DESC, u LIMIT 20
    )
    SELECT t.u AS user_id, t.exact_cnt,
           least(c0.c, c1.c, c2.c) AS cms_est,
           least(c0.c, c1.c, c2.c) - t.exact_cnt AS overestimate,
           least(c0.c, c1.c, c2.c) >= t.exact_cnt AS cms_ok
    FROM top t
    JOIN counters c0 ON c0.j = 0 AND c0.p =
        ((t.u % 2147483647) * 1597334677 + 15487469)
        % 2147483647 % 1024
    JOIN counters c1 ON c1.j = 1 AND c1.p =
        ((t.u % 2147483647) * 1203793907 + 28491121)
        % 2147483647 % 1024
    JOIN counters c2 ON c2.j = 2 AND c2.p =
        ((t.u % 2147483647) * 784387469 + 37482901)
        % 2147483647 % 1024
    ORDER BY t.exact_cnt DESC, t.u
"""
