"""Semantic tests for the round-5 statistics/search/attribution ops
(beyond the DuckDB oracle, which checks engine agreement but not the
intended chi-square / BM25 / Kaplan-Meier / attribution semantics)."""

from __future__ import annotations

import math
import os
from datetime import datetime, timedelta

from simpleetlpipeline_spark.functions.text import bm25_doc_ranking
from simpleetlpipeline_spark.plans.advanced import (
    chi_square_independence,
    kaplan_meier_survival,
    revenue_attribution,
)
from simpleetlpipeline_spark.schemas import TESTDATA_SCHEMAS


def _write(spark, tmp_path, name, rows):
    (spark.createDataFrame(rows, TESTDATA_SCHEMAS[name])
     .coalesce(1)
     .write.parquet(os.path.join(str(tmp_path), f"{name}.parquet")))


def test_chi_square_perfect_dependence(spark, tmp_path):
    # 2x2 contingency [[10,0],[0,10]]: expected=5 per cell,
    # chi2 = 4 * (10-5)^2/5 = 20 exactly, dof = 1.
    day = datetime(2024, 1, 1)
    cust = [(k, f"c{k}", 0, 0.0, "SEG_A" if k < 10 else "SEG_B")
            for k in range(20)]
    orders = [(k, k, "Completed", 1.0, day,
               "1-URGENT" if k < 10 else "2-HIGH") for k in range(20)]
    _write(spark, tmp_path, "customer", cust)
    _write(spark, tmp_path, "orders", orders)
    [r] = chi_square_independence(spark, str(tmp_path)).collect()
    assert (r["n_rows"], r["n_segments"], r["n_priorities"],
            r["dof"]) == (20, 2, 2, 1)
    assert r["chi2_nano"] == 20_000_000_000
    assert r["chi2"] == 20.0


def test_bm25_scores_match_hand_formula(spark, tmp_path):
    # 2 docs; doc 0 mentions 'join' 3x in dl=4, doc 1 once in dl=6.
    # N=2, total_dl=10; only 'join' is a query term.
    docs = [(0, "join join join scan", "en", "s", 19),
            (1, "join scan scan scan scan scan", "en", "s", 30)]
    _write(spark, tmp_path, "documents", docs)
    got = {r["doc_id"]: (r["score_micro"], r["n_terms_matched"])
           for r in bm25_doc_ranking(spark, str(tmp_path)).collect()}

    def expected(tf, dl, df=2, n=2, total=10):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        norm = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * ((dl * n) / total)))
        return math.floor(idf * norm * 1e6)

    assert got == {0: (expected(3, 4), 1), 1: (expected(1, 6), 1)}
    # tf dominance: the tf=3 doc must outrank the tf=1 doc
    assert got[0][0] > got[1][0]


def _ev(rows):
    return [(i, ts, uid, et, val, "{}")
            for i, (ts, uid, et, val) in enumerate(rows)]


def test_kaplan_meier_risk_sets_and_survival(spark, tmp_path):
    # user 1 converts on day 0, user 2 on day 2, user 3 censored at
    # the study end (day 5, set by its own last event). KM:
    #   day 0: n_risk 3, 1 event -> S = 2/3
    #   day 2: n_risk 2, 1 event -> S = 2/3 * 1/2 = 1/3
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = _ev([
        (t0, 1, "signup", 0.0),
        (t0 + timedelta(hours=12), 1, "purchase", 5.0),
        (t0, 2, "signup", 0.0),
        (t0 + timedelta(days=2, hours=12), 2, "purchase", 5.0),
        (t0, 3, "signup", 0.0),
        (t0 + timedelta(days=5), 3, "click", 1.0),   # sets study end
    ])
    _write(spark, tmp_path, "events", rows)
    got = kaplan_meier_survival(spark, str(tmp_path)).collect()
    assert [(r["duration_day"], r["n_risk"], r["n_events"],
             r["n_censored"]) for r in got] == [(0, 3, 1, 0), (2, 2, 1, 0)]
    assert abs(got[0]["survival"] - 2 / 3) < 1e-4
    assert abs(got[1]["survival"] - 1 / 3) < 1e-4


def test_attribution_models_window_and_bucket_boundary(spark, tmp_path):
    # user 1: click then view then purchase(10.00) -> last_touch all
    #   to view; linear splits 50/50.
    # user 2: purchase with NO touch in 24h -> no credit anywhere.
    # user 3: purchase 30min into a bucket, its only touch 1h before
    #   (previous bucket) -> must be found via the bucket-1 probe.
    t0 = datetime(2024, 1, 2, 12, 0, 0)
    b3 = datetime(2024, 1, 3, 0, 30, 0)  # 30min past a 24h boundary
    rows = _ev([
        (t0, 1, "click", 1.0),
        (t0 + timedelta(hours=1), 1, "view", 1.0),
        (t0 + timedelta(hours=2), 1, "purchase", 10.0),
        (t0 - timedelta(hours=30), 2, "view", 1.0),  # outside 24h
        (t0, 2, "purchase", 40.0),
        (b3 - timedelta(hours=1), 3, "click", 1.0),
        (b3, 3, "purchase", 6.0),
    ])
    _write(spark, tmp_path, "events", rows)
    got = {(r["model"], r["touch_type"]):
           (r["attributed_micro_cents"], r["n_purchases"])
           for r in revenue_attribution(spark, str(tmp_path)).collect()}
    micro = 1_000_000
    assert got == {
        ("last_touch", "view"): (1000 * micro, 1),
        ("last_touch", "click"): (600 * micro, 1),
        ("linear", "click"): (500 * micro + 600 * micro, 2),
        ("linear", "view"): (500 * micro, 1),
    }
    # conservation: linear credit sums to the attributed purchases'
    # full value (1000 + 600 cents), user 2's 40.00 goes nowhere
    assert (got[("linear", "click")][0] + got[("linear", "view")][0]
            == 1600 * micro)


def test_retention_set_ops_cohorts(spark, tmp_path):
    # customers 1,2 order in 1995; 2,3 in 2000 -> retained={2},
    # churned={1}, acquired={3}; customer 4 (other year) is invisible.
    def o(key, cust, year):
        return (key, cust, "Completed", 1.0,
                datetime(year, 6, 1), "1-URGENT")
    rows = [o(1, 1, 1995), o(2, 2, 1995), o(3, 2, 2000), o(4, 3, 2000),
            o(5, 2, 1995), o(6, 4, 1997)]
    _write(spark, tmp_path, "orders", rows)
    from simpleetlpipeline_spark.plans.relational import (
        customer_retention_set_ops,
    )
    got = {r["cohort"]: r["n_customers"]
           for r in customer_retention_set_ops(spark, str(tmp_path))
           .collect()}
    assert got == {"retained": 1, "churned": 1, "acquired": 1}


def test_khop_reach_hub_and_frontiers(spark, tmp_path):
    # edges 1-2, 2-3, 3-6, 4-5: degree ties (2 and 3 both have 2)
    # break to min partkey -> seed 2; hop1 {1,3}; hop2 {6} (2 itself
    # and hop1 are excluded; 4-5 is a disconnected component).
    day = datetime(1995, 1, 1)
    rows = []
    for i, (okey, parts) in enumerate(
            [(1, [1, 2]), (2, [2, 3]), (3, [4, 5]), (4, [3, 6])]):
        for p in parts:
            rows.append((okey, p, 1, 1, 1.0, 1.0, 0.0, 0.0,
                         "N", "O", day))
    _write(spark, tmp_path, "lineitem", rows)
    from simpleetlpipeline_spark.plans.relational import (
        copurchase_khop_reach,
    )
    got = [(r["l_partkey"], r["hop"])
           for r in copurchase_khop_reach(spark, str(tmp_path)).collect()]
    assert got == [(1, 1), (3, 1), (6, 2)]


def test_cusum_locates_level_shift(spark, tmp_path):
    # revenue 1.00/day for days 0-3 then 2.00/day for days 4-7:
    # CUSUM is most negative at the last low day. Exact check:
    # n*prefix - d*total at d=4 is 8*400 - 4*1200 = -1600.
    rows = [(d, 1, "Completed", 1.0 if d < 4 else 2.0,
             datetime(1995, 1, 1) + timedelta(days=d), "1-URGENT")
            for d in range(8)]
    _write(spark, tmp_path, "orders", rows)
    from simpleetlpipeline_spark.plans.advanced import (
        revenue_cusum_changepoint,
    )
    [r] = revenue_cusum_changepoint(spark, str(tmp_path)).collect()
    assert (r["changepoint_day"], r["n_days"]) == (3, 8)
    assert int(r["cusum_scaled"]) == -1600
    assert r["mean_before_cents"] == 100.0
    assert r["mean_after_cents"] == 200.0


def test_psi_total_shift_and_empty_bins(spark, tmp_path):
    # reference half all 1.00, current half all 2.00: mass moves
    # from bin 0 to bin 9; bins 1-8 are empty on BOTH sides and must
    # still emit rows with term 0.
    t0 = datetime(2024, 1, 1)
    rows = _ev(
        [(t0 + timedelta(hours=h), 1, "view", 1.0) for h in range(10)]
        + [(t0 + timedelta(days=20, hours=h), 1, "view", 2.0)
           for h in range(10)])
    _write(spark, tmp_path, "events", rows)
    from simpleetlpipeline_spark.plans.advanced import events_value_psi
    got = {r["bin"]: (r["n_ref"], r["n_cur"], r["term_nano"])
           for r in events_value_psi(spark, str(tmp_path)).collect()}
    assert set(got) == set(range(10))
    assert got[0][:2] == (10, 0)
    assert got[9][:2] == (0, 10)
    # smoothed term: (11/20 - 1/20) * ln(11) on both moved bins
    expect = math.floor(0.5 * math.log(11.0) * 1e9)
    assert got[0][2] == expect and got[9][2] == expect
    assert all(got[b] == (0, 0, 0) for b in range(1, 9))


def test_erasure_commits_new_version_and_keeps_time_travel(
        spark, tmp_path):
    import json
    import os

    from simpleetlpipeline_spark.io import (
        read_table_version,
        write_table_version,
    )
    from simpleetlpipeline_spark.operators.erasure import erase_user

    t0 = datetime(2024, 1, 1)
    rows = _ev([(t0 + timedelta(minutes=i), uid, "view", 1.0)
                for i, uid in enumerate([1, 1, 1, 2, 2])])
    df = spark.createDataFrame(rows, TESTDATA_SCHEMAS["events"])
    root = os.path.join(str(tmp_path), "events")
    write_table_version(df, root)
    target = df.filter("user_id = 1").select("user_id").distinct()
    vdir = erase_user(spark, root, "user_id", target, schema=df.schema)
    # current snapshot: only user 2's rows survive
    cur = read_table_version(spark, root, schema=df.schema)
    assert [r["user_id"] for r in cur.collect()] == [2, 2]
    # time travel: v1 still holds all 5 rows (keep_versions=2)
    v1 = read_table_version(spark, root, version=1, schema=df.schema)
    assert v1.count() == 5
    # the erasure is stamped into the committed version's metadata
    with open(os.path.join(vdir, "_META.json")) as fh:
        assert json.load(fh)["op"] == "user_erasure"


def test_erasure_audit_row_is_exact(spark, tmp_path):
    # most-active user (ties -> min id) is user 1 with 3 of 5 rows
    t0 = datetime(2024, 1, 1)
    rows = _ev([(t0 + timedelta(minutes=i), uid, "view", 1.0)
                for i, uid in enumerate([1, 1, 1, 2, 2])])
    _write(spark, tmp_path, "events", rows)
    from simpleetlpipeline_spark.operators.erasure import (
        user_erasure_audit,
    )
    [r] = user_erasure_audit(spark, str(tmp_path)).collect()
    assert (r["target_user_id"], r["rows_before"], r["rows_removed"],
            r["rows_after"]) == (1, 5, 3, 2)


def test_twap_weights_by_holding_duration(spark, tmp_path):
    # user 1: 1.00 held 10s then 3.00 held 30s (to study end) ->
    # TWAP = (100*10 + 300*30)/40 = 250 cents, NOT avg(100,300)=200.
    # user 2's only event IS the study end: zero holding time, so it
    # is excluded (wtot=0 contract).
    t0 = datetime(2024, 1, 1)
    rows = _ev([
        (t0, 1, "view", 1.0),
        (t0 + timedelta(seconds=10), 1, "view", 3.0),
        (t0 + timedelta(seconds=40), 2, "view", 7.77),
    ])
    _write(spark, tmp_path, "events", rows)
    from simpleetlpipeline_spark.plans.advanced import user_value_twap
    got = {r["user_id"]: (r["n_events"], r["twap_cents"])
           for r in user_value_twap(spark, str(tmp_path)).collect()}
    assert got == {1: (2, 250.0)}


def test_acf_alternating_series(spark, tmp_path):
    # perfectly alternating 1.00/2.00 daily revenue: lag-1 ACF is
    # strongly negative, lag-2 strongly positive; values must equal
    # the scaled-integer formula exactly.
    rows = [(d, 1, "Completed", 1.0 if d % 2 == 0 else 2.0,
             datetime(1995, 1, 1) + timedelta(days=d), "1-URGENT")
            for d in range(8)]
    _write(spark, tmp_path, "orders", rows)
    from simpleetlpipeline_spark.plans.advanced import (
        revenue_autocorrelation,
    )
    got = {r["lag"]: (r["n_pairs"], r["acf"])
           for r in revenue_autocorrelation(spark, str(tmp_path))
           .collect()}
    y = [100 if d % 2 == 0 else 200 for d in range(8)]
    n, sy = len(y), sum(y)
    syy = sum(v * v for v in y)

    def expect(k):
        pairs = list(zip(y[:-k], y[k:]))
        sk = sum(a * b for a, b in pairs)
        pk = sum(a for a, _ in pairs)
        qk = sum(b for _, b in pairs)
        m = len(pairs)
        num = n * n * sk - n * sy * (pk + qk) + m * sy * sy
        den = n * (n * syy - sy * sy)
        return (m, math.floor(num / den * 1e6) / 1e6)

    assert got[1] == expect(1) and got[1][1] < -0.8
    assert got[2] == expect(2) and got[2][1] > 0.7
    assert set(got) == set(range(1, 8))


def test_entropy_profile_uniform_and_constant(spark, tmp_path):
    # events: 2 types 50/50 -> entropy = ln 2, normalized ~ 1.
    # documents.source and customer segment are CONSTANT columns:
    # entropy 0 and normalized NULL (ln(k=1)=0 has no scale).
    t0 = datetime(2024, 1, 1)
    _write(spark, tmp_path, "events",
           _ev([(t0 + timedelta(minutes=i), 1,
                 "view" if i % 2 == 0 else "click", 1.0)
                for i in range(4)]))
    _write(spark, tmp_path, "documents",
           [(i, "x", "en", "s", 1) for i in range(3)])
    _write(spark, tmp_path, "customer",
           [(i, f"c{i}", 0, 0.0, "SEG") for i in range(3)])
    from simpleetlpipeline_spark.plans.advanced import (
        categorical_entropy_profile,
    )
    got = {r["column_name"]: (r["n_categories"], r["entropy_nano"],
                              r["normalized"])
           for r in categorical_entropy_profile(spark, str(tmp_path))
           .collect()}
    ln2_term = math.floor(0.5 * math.log(2.0) * 1e9)
    assert got["events.event_type"] == (2, 2 * ln2_term, 0.999999)
    assert got["customer.c_mktsegment"] == (1, 0, None)
    assert got["documents.source"] == (1, 0, None)
    assert got["documents.lang"] == (1, 0, None)


def test_powerlaw_exact_two_point_fit(spark, tmp_path):
    # star: orders {1,2} {1,3} {1,4} -> degrees 1:3 and 2,3,4:1 ->
    # histogram points (deg 1, 3 parts) and (deg 3, 1 part): a
    # perfect two-point line with slope exactly -1 and r2 = 1.
    day = datetime(1995, 1, 1)
    rows = []
    for okey, parts in [(1, [1, 2]), (2, [1, 3]), (3, [1, 4])]:
        for p in parts:
            rows.append((okey, p, 1, 1, 1.0, 1.0, 0.0, 0.0,
                         "N", "O", day))
    _write(spark, tmp_path, "lineitem", rows)
    from simpleetlpipeline_spark.plans.relational import (
        copurchase_degree_powerlaw,
    )
    [r] = copurchase_degree_powerlaw(spark, str(tmp_path)).collect()
    assert r["n_degree_points"] == 2
    assert r["slope"] == -1.0
    assert r["r2"] == 1.0


def test_sampling_weights_upsample_low_resource(spark, tmp_path):
    # 'aa' has 4x the tokens of 'bb': alpha=0.7 must pull weights
    # closer than 80/20 while preserving the order, and effective
    # epochs must exceed 1 for the low-resource language only.
    docs = ([(i, "tok tok tok tok", "aa", "s", 15) for i in range(4)]
            + [(100, "tok tok tok tok", "bb", "s", 15)])
    _write(spark, tmp_path, "documents", docs)
    from simpleetlpipeline_spark.functions.text import (
        SAMPLING_ALPHA,
        language_sampling_weights,
    )
    got = {r["lang"]: r for r in
           language_sampling_weights(spark, str(tmp_path)).collect()}
    wa = math.floor((16 / 20) ** SAMPLING_ALPHA * 1e9)
    wb = math.floor((4 / 20) ** SAMPLING_ALPHA * 1e9)
    assert got["aa"]["w_nano"] == wa and got["bb"]["w_nano"] == wb
    assert got["aa"]["weight"] == math.floor(wa / (wa + wb) * 1e6) / 1e6
    # temperature flattens: 0.2 < weight(bb) < ... < weight(aa) < 0.8
    assert 0.2 < got["bb"]["weight"] < 0.5 < got["aa"]["weight"] < 0.8
    assert got["bb"]["effective_epochs"] > 1.0 > \
        got["aa"]["effective_epochs"]


def test_theil_sen_shrugs_off_outlier_that_drags_ols(spark, tmp_path):
    """y = 200 + 3x dollars on days 0..9 with day 9 replaced by a
    100x promo spike: OLS chases the spike; Theil-Sen still reports
    the clean slope of 300 cents/day (most pairwise slopes are
    spike-free, so the median is the true slope)."""
    from simpleetlpipeline_spark.plans.advanced import (
        revenue_trend_ols,
        revenue_trend_theil_sen,
    )

    base = datetime(1995, 1, 1)
    rows = []
    for d in range(10):
        amount = 200.0 + 3.0 * d if d < 9 else 100_000.0
        rows.append((d, 1, "F", amount, base + timedelta(days=d), "1-URGENT"))
    _write(spark, tmp_path, "orders", rows)

    ts = revenue_trend_theil_sen(spark, str(tmp_path)).collect()[0]
    assert ts.n_days == 10
    assert ts.n_pairs == 45
    assert ts.slope_cents_per_day == 300.0

    ols = revenue_trend_ols(spark, str(tmp_path)).collect()[0]
    assert ols.slope_cents_per_day > 100_000.0, \
        "OLS must be visibly dragged by the spike (the contrast)"


def test_mutual_information_dependence_extremes(spark, tmp_path):
    """Perfect dependence (each type lives in its own hour, uniform):
    MI = H_type = H_hour = ln(4) and NMI = 1. Independence (every
    type uniform over every hour): MI = 0 and NMI = 0."""
    from simpleetlpipeline_spark.plans.advanced import (
        event_hour_mutual_information,
    )

    base = datetime(2024, 1, 1)
    dep = [(i * 4 + k, base + timedelta(hours=k), 1, f"type_{k}",
            1.0, "{}")
           for k in range(4) for i in range(5)]
    _write(spark, tmp_path / "dep", "events", dep)
    r = event_hour_mutual_information(
        spark, str(tmp_path / "dep")).collect()[0]
    ln4_nano = math.floor(math.log(4) * 1e9)
    assert r.n_events == 20 and r.n_cells == 4
    # 4 equal cells: each term floors once, entropy floors the same
    # 4 equal margin terms -> identical nano sums
    assert r.mi_nano == r.h_type_nano == r.h_hour_nano
    assert abs(r.mi_nano - math.floor(-4 * (0.25 * math.log(0.25))
                                      * 1e9)) <= 4
    assert abs(r.mi_nano / 1e9 - math.log(4)) < 1e-6
    assert r.nmi == 1.0

    ind = [(k * 100 + h, base + timedelta(hours=h), 1, f"type_{k}",
            1.0, "{}")
           for k in range(4) for h in range(4)]
    _write(spark, tmp_path / "ind", "events", ind)
    r2 = event_hour_mutual_information(
        spark, str(tmp_path / "ind")).collect()[0]
    assert r2.n_cells == 16
    # every cell term is ln(1) = 0 before flooring
    assert r2.mi_nano == 0
    assert r2.nmi == 0.0


def test_bloom_semijoin_no_false_negatives_even_saturated(
        spark, tmp_path, monkeypatch):
    """The planner contract: a Bloom filter may over-admit, never
    drop. Shrink the filter to 126 bits (2 words) so collisions are
    rampant, and assert false_neg stays 0 while the filter admits at
    least every member order."""
    import simpleetlpipeline_spark.plans.advanced as adv

    monkeypatch.setattr(adv, "_BLOOM_M", 126)
    cust = [(k, f"c{k}", 0, 0.0,
             "BUILDING" if k % 3 == 0 else "MACHINERY")
            for k in range(60)]
    day = datetime(2024, 1, 1)
    orders = [(k, k % 60, "Completed", 10.0, day, "3-MEDIUM")
              for k in range(240)]
    _write(spark, tmp_path, "customer", cust)
    _write(spark, tmp_path, "orders", orders)
    [r] = adv.bloom_semijoin_reduction(spark, str(tmp_path)).collect()
    assert r.n_orders == 240
    assert r.n_members == 80          # custkeys 0,3,...,57 -> 4 each
    assert r.n_false_neg == 0, "Bloom must never drop a member"
    assert r.n_bloom_pass == r.n_members + r.n_false_pos
    assert r.words_nonzero <= 2
    assert r.bits_set <= 126


def test_bloom_semijoin_exact_membership_at_default_size(
        spark, tmp_path):
    """At the default 1 Mbit size a 20-key set can't collide its
    way to a false positive against 60 probe keys (expected fp
    ~ (60/2^20)^3); the report must then equal the exact semi-join
    and pass only member revenue."""
    from simpleetlpipeline_spark.plans.advanced import (
        bloom_semijoin_reduction,
    )

    cust = [(k, f"c{k}", 0, 0.0,
             "BUILDING" if k % 3 == 0 else "MACHINERY")
            for k in range(60)]
    day = datetime(2024, 1, 1)
    orders = [(k, k % 60, "Completed", float(k + 1), day, "3-MEDIUM")
              for k in range(240)]
    _write(spark, tmp_path, "customer", cust)
    _write(spark, tmp_path, "orders", orders)
    [r] = bloom_semijoin_reduction(spark, str(tmp_path)).collect()
    member_cents = sum(
        (k + 1) * 100 for k in range(240) if (k % 60) % 3 == 0)
    assert (r.n_bloom_pass, r.n_false_pos, r.n_false_neg) == (80, 0, 0)
    assert r.fp_rate == 0.0
    assert r.passed_revenue_cents == member_cents
    assert r.bits_set == 60, "20 keys x 3 hashes, no bit collisions"


def test_poisson_bootstrap_constant_data_collapses_ci(spark, tmp_path):
    """If every order has the same value, every replicate mean is
    exactly that value regardless of its Poisson weights (sum(w*c)
    / sum(w) = c), so the CI collapses to a zero-width interval at
    the point estimate — the degenerate-variance sanity check."""
    from simpleetlpipeline_spark.plans.advanced import (
        poisson_bootstrap_mean_ci,
    )

    day = datetime(2024, 1, 1)
    orders = [(k, k, "Completed", 25.0, day, "3-MEDIUM")
              for k in range(300)]
    _write(spark, tmp_path, "orders", orders)
    [r] = poisson_bootstrap_mean_ci(spark, str(tmp_path)).collect()
    assert r.n_orders == 300 and r.n_replicates == 100
    assert (r.mean_microcents == r.ci_lo_microcents
            == r.ci_hi_microcents == r.boot_min_microcents
            == r.boot_max_microcents == 2500 * 1_000_000)


def test_poisson_bootstrap_ci_brackets_point_estimate(spark, sf_dir):
    """On the real table the order statistics must nest:
    boot_min <= ci_lo < ci_hi <= boot_max, and the point estimate
    falls inside the 95% interval (deterministic for this fixed
    dataset and seed scheme)."""
    from simpleetlpipeline_spark.plans.advanced import (
        poisson_bootstrap_mean_ci,
    )

    [r] = poisson_bootstrap_mean_ci(spark, sf_dir).collect()
    assert r.boot_min_microcents <= r.ci_lo_microcents
    assert r.ci_lo_microcents < r.ci_hi_microcents
    assert r.ci_hi_microcents <= r.boot_max_microcents
    assert (r.ci_lo_microcents <= r.mean_microcents
            <= r.ci_hi_microcents)


def test_open_orders_timeline_sweep_line_semantics(spark, tmp_path):
    """Three overlapping orders with hand-computed concurrency:
    A [Jan1..Jan5], B [Jan3..Jan8], C [Jan4..Jan4]. Expected open
    counts: Jan1=1, Jan3=2, Jan4=3, Jan5=2 (C closed), Jan6=1
    (A closed), Jan9=0 (B closed). Conservation: deltas net to 0 and
    the timeline ends at zero open orders."""
    from simpleetlpipeline_spark.plans.advanced import (
        open_orders_timeline,
    )

    def d(day):
        return datetime(2024, 1, day)

    orders = [(1, 1, "Completed", 10.0, d(1), "3-MEDIUM"),
              (2, 2, "Completed", 10.0, d(3), "3-MEDIUM"),
              (3, 3, "Completed", 10.0, d(4), "3-MEDIUM")]
    li = [(1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d(5)),
          (1, 2, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", d(2)),
          (2, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d(8)),
          (3, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d(4))]
    _write(spark, tmp_path, "orders", orders)
    _write(spark, tmp_path, "lineitem", li)
    rows = open_orders_timeline(spark, str(tmp_path)).collect()
    got = {r.day.isoformat(): (r.net_change, r.open_orders)
           for r in rows}
    assert got == {"2024-01-01": (1, 1), "2024-01-03": (1, 2),
                   "2024-01-04": (1, 3), "2024-01-05": (-1, 2),
                   "2024-01-06": (-1, 1), "2024-01-09": (-1, 0)}
    assert sum(r.net_change for r in rows) == 0
    assert rows[-1].open_orders == 0


def test_hll_audience_overlap_exact_witnesses(spark, tmp_path):
    """Known overlap: A = users 1..10, B = users 6..15 (|A∩B| = 5,
    |A∪B| = 15, J = 1/3); C shares no user with A or B, so the
    (A,C) and (B,C) pairs must be absent. The HLL
    inclusion-exclusion estimate must sit inside its propagated
    bound (hll_ok)."""
    from simpleetlpipeline_spark.functions.sketches import (
        hll_audience_overlap,
    )

    base = datetime(2024, 1, 1)
    rows = ([(i, base, u, "A", 1.0, "{}")
             for i, u in enumerate(range(1, 11))]
            + [(100 + i, base, u, "B", 1.0, "{}")
               for i, u in enumerate(range(6, 16))]
            + [(200, base, 999, "C", 1.0, "{}")]
            # duplicate events must not inflate the audiences
            + [(300, base, 1, "A", 1.0, "{}"),
               (301, base, 6, "B", 1.0, "{}")])
    _write(spark, tmp_path, "events", rows)
    out = hll_audience_overlap(spark, str(tmp_path)).collect()
    assert [(r.t1, r.t2) for r in out] == [("A", "B")]
    [r] = out
    assert (r.n_t1, r.n_t2, r.n_both, r.n_union) == (10, 10, 5, 15)
    assert r.jaccard == 0.333333
    assert r.hll_ok is True


def test_hll_tight_bounds_sf001(spark, sf_dir):
    """The TIGHT scientific bounds the gated queries deliberately
    loosen: the gate booleans use 6/8x rsd (a hash-exact DuckDB
    oracle can only hardcode TRUE, so a 3-sigma tail draw must not
    red the gate), while the real sketch contract — merge gap within
    3*rsd of exact, merged estimate within 5*rsd of exact, and the
    inclusion-exclusion intersection inside its 3x propagated
    bound — is asserted HERE, where an epsilon compare is possible,
    over the real sf0.01 events table."""
    import simpleetlpipeline_spark.functions.sketches as sk
    from pyspark.sql import functions as F
    from simpleetlpipeline_spark.io import read_table

    events = read_table(spark, sf_dir, "events").select(
        "event_type", "user_id",
        (F.col("user_id") % sk.HLL_SHARDS).alias("shard"))
    per_shard = events.groupBy("event_type", "shard").agg(
        F.hll_sketch_agg("user_id", F.lit(sk.HLL_LGK)).alias("sk"))
    merged = per_shard.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("m"))
    direct = events.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(sk.HLL_LGK))).alias("d"),
        F.count_distinct("user_id").alias("x"))
    rsd = 1.04 / (2 ** sk.HLL_LGK) ** 0.5
    rows = merged.join(direct, "event_type").collect()
    assert rows
    for r in rows:
        assert abs(r.m - r.d) <= 3 * rsd * r.x, r.event_type
        assert abs(r.m - r.x) <= 5 * rsd * r.x, r.event_type

    # Inclusion-exclusion intersection: tight 3x propagated bound.
    ut = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"), F.col("user_id").alias("u")
    ).distinct().cache()
    # disjoint column names on each side: alias-qualified self-join
    # predicates over shared cached lineage can resolve trivially
    # true (the ann_recall_report round-5 bug class)
    ut2 = ut.select(F.col("t").alias("t2"), F.col("u").alias("u2"))
    exact = {(a, b): n for a, b, n in (
        ut.join(ut2, (F.col("u") == F.col("u2"))
                & (F.col("t") < F.col("t2")))
        .groupBy(F.col("t").alias("a"), F.col("t2").alias("b"))
        .agg(F.count(F.lit(1)).alias("n")).collect())}
    card = {r.t: r.n for r in
            ut.groupBy("t").agg(F.count(F.lit(1)).alias("n")).collect()}
    est = {r.t: r.e for r in ut.groupBy("t").agg(
        F.approx_count_distinct("u", rsd=sk.HLL_RSD).alias("e")
    ).collect()}
    uest = {(a, b): e for a, b, e in (
        ut.join(ut2.select("t2").distinct(),
                F.col("t") != F.col("t2"))
        .select(F.least("t", "t2").alias("a"),
                F.greatest("t", "t2").alias("b"), "u")
        .groupBy("a", "b")
        .agg(F.approx_count_distinct("u", rsd=sk.HLL_RSD).alias("e"))
        .collect())}
    ut.unpersist()
    assert exact
    for (a, b), n_both in exact.items():
        n_union = card[a] + card[b] - n_both
        est_int = est[a] + est[b] - uest[(a, b)]
        bound = 3 * sk.HLL_RSD * (card[a] + card[b] + n_union)
        assert abs(est_int - n_both) <= bound, (a, b)


def test_cms_never_undercounts_even_saturated(spark, tmp_path,
                                              monkeypatch):
    """The CMS contract: collisions may inflate an estimate, never
    deflate it. Shrink the sketch to 4 counters per row so nearly
    every user collides, and assert est >= exact everywhere."""
    import simpleetlpipeline_spark.functions.sketches as sk

    monkeypatch.setattr(sk, "_CMS_W", 4)
    day = datetime(2024, 1, 1)
    ev = [(i, day, i % 37, "view", 1.0, "{}") for i in range(500)]
    _write(spark, tmp_path, "events", ev)
    rows = sk.cms_user_event_counts(spark, str(tmp_path)).collect()
    assert len(rows) == 20
    assert all(r.cms_ok for r in rows), "CMS must never under-count"
    assert all(r.cms_est >= r.exact_cnt for r in rows)
    # 37 users into 4 counters: someone MUST share a counter in
    # every row, so at least one probe over-counts.
    assert any(r.overestimate > 0 for r in rows)


def test_cms_exact_when_no_collisions(spark, tmp_path):
    """At the default 3x1024 size, 5 distinct users can only
    collide if two of the 15 hash positions clash — verify they
    don't for this key set and the estimates are EXACT."""
    from simpleetlpipeline_spark.functions.sketches import (
        cms_user_event_counts,
    )

    day = datetime(2024, 1, 1)
    ev = [(i, day, i % 5, "view", 1.0, "{}") for i in range(100)]
    _write(spark, tmp_path, "events", ev)
    rows = cms_user_event_counts(spark, str(tmp_path)).collect()
    assert {r.user_id: r.exact_cnt for r in rows} == {
        u: 20 for u in range(5)}
    assert all(r.overestimate == 0 for r in rows)


def test_priority_sample_invariants(spark, tmp_path):
    """Structural contract of priority sampling: exactly k rows,
    w_hat = max(w, tau) — so every w_hat >= the doc's own weight,
    and every sampled doc whose weight did NOT dominate shares the
    SAME w_hat (they all equal tau); the exact-total witness matches
    the corpus."""
    import simpleetlpipeline_spark.functions.pretrain as pt

    docs = [(i, " ".join(["tok"] * ((i % 13) + 1)), "en", "s", 50)
            for i in range(300)]
    _write(spark, tmp_path, "documents", docs)
    rows = pt.priority_sample_docs(spark, str(tmp_path)).collect()
    assert len(rows) == pt.PRIORITY_SAMPLE_K
    total = sum((i % 13) + 1 for i in range(300))
    assert all(r.exact_total_tokens == total for r in rows)
    assert all(r.w_hat_micro >= r.n_tokens * 1_000_000 for r in rows)
    clamped = {r.w_hat_micro for r in rows
               if r.w_hat_micro > r.n_tokens * 1_000_000}
    assert len(clamped) <= 1, "non-dominating docs all take tau"
    # deterministic: a second run returns the identical sample
    again = pt.priority_sample_docs(spark, str(tmp_path)).collect()
    assert rows == again


def test_mann_whitney_complete_separation(spark, tmp_path):
    """view={1,2,3} purchase={4,5,6}: R1=6 (doubled 12), U1=0,
    no ties, z = -4.5/sqrt(5.25) — checked against the hand
    formula."""
    from simpleetlpipeline_spark.plans.advanced import (
        mann_whitney_u_test,
    )

    day = datetime(2024, 1, 1)
    ev = ([(i, day, i, "view", float(i + 1), "{}") for i in range(3)]
          + [(10 + i, day, i, "purchase", float(i + 4), "{}")
             for i in range(3)])
    _write(spark, tmp_path, "events", ev)
    [r] = mann_whitney_u_test(spark, str(tmp_path)).collect()
    assert (r.n1, r.n2, r.r1_doubled, r.u1_doubled, r.tie_term) == \
        (3, 3, 12, 0, 0)
    z = (0 - 4.5) / math.sqrt(3 * 3 * 7 / 12)
    assert r.z_nano == math.floor(z * 1e9)


def test_mann_whitney_identical_groups_z_zero(spark, tmp_path):
    """Identical value multisets in both groups: U1 = n1*n2/2
    exactly, so z == 0; the tie-correction term counts every shared
    value (4 ones -> 60, 2 twos -> 6)."""
    from simpleetlpipeline_spark.plans.advanced import (
        mann_whitney_u_test,
    )

    day = datetime(2024, 1, 1)
    vals = [1.0, 1.0, 2.0]
    ev = ([(i, day, i, "view", v, "{}")
           for i, v in enumerate(vals)]
          + [(10 + i, day, i, "purchase", v, "{}")
             for i, v in enumerate(vals)])
    _write(spark, tmp_path, "events", ev)
    [r] = mann_whitney_u_test(spark, str(tmp_path)).collect()
    assert (r.n1, r.n2) == (3, 3)
    assert r.u1_doubled == r.n1 * r.n2      # doubled U1 == 2*(9/2)
    assert r.tie_term == (4**3 - 4) + (2**3 - 2)
    assert r.z_nano == 0


def test_equidepth_heavy_value_overfills_its_bucket(spark, tmp_path):
    """Non-splitting equi-depth: a value holding 75% of rows lands
    wholly in bucket 0; later distinct values spread by cumulative
    rank. 20 rows, b=10: v=1 x15 -> bucket 0; v=2 cumb=15 -> b7;
    v=3,4 -> b8; v=5,6 -> b9. Mass conservation across buckets."""
    from simpleetlpipeline_spark.plans.advanced import (
        order_value_equidepth,
    )

    day = datetime(2024, 1, 1)
    orders = [(i, 1, "Completed", 0.01, day, "3-MEDIUM")
              for i in range(15)]
    orders += [(100 + v, 1, "Completed", v * 0.01, day, "3-MEDIUM")
               for v in (2, 3, 4, 5, 6)]
    _write(spark, tmp_path, "orders", orders)
    rows = order_value_equidepth(spark, str(tmp_path)).collect()
    got = {r.bucket: (r.n_orders, r.lo_cents, r.hi_cents)
           for r in rows}
    assert got == {0: (15, 1, 1), 7: (1, 2, 2), 8: (2, 3, 4),
                   9: (2, 5, 6)}
    assert sum(r.n_orders for r in rows) == 20
    assert sum(r.revenue_cents for r in rows) == 15 * 1 + 2 + 3 + 4 + 5 + 6


def test_stl_constant_series_all_components_flat(spark, tmp_path):
    """Constant daily revenue: trend == the constant, seasonal == 0,
    remainder == 0 on every interior day."""
    from simpleetlpipeline_spark.plans.advanced import daily_revenue_stl

    orders = [(d, 1, "Completed", 50.0, datetime(2024, 1, 1 + d),
               "3-MEDIUM") for d in range(21)]
    _write(spark, tmp_path, "orders", orders)
    rows = daily_revenue_stl(spark, str(tmp_path)).collect()
    assert len(rows) == 21 - 6          # 3 trimmed each end
    assert all(r.revenue_cents == 5000 for r in rows)
    assert all(r.trend_milli == 5000 * 1000 for r in rows)
    assert all(r.seasonal_milli == 0 for r in rows)
    assert all(r.remainder_milli == 0 for r in rows)


def test_stl_pure_weekly_signal_zero_remainder(spark, tmp_path):
    """Revenue that depends ONLY on day-of-week over 4 exact weeks:
    every 7-day window sums to the weekly total, so the trend is
    flat at the weekly mean, the seasonal captures the whole
    pattern, and the remainder vanishes — the decomposition routes
    a recurring Monday dip into seasonal, not anomaly."""
    from simpleetlpipeline_spark.plans.advanced import daily_revenue_stl

    base = datetime(2024, 1, 1)          # a Monday
    dow_price = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0]
    orders = [(d, 1, "Completed", dow_price[d % 7],
               base + timedelta(days=d), "3-MEDIUM")
              for d in range(28)]
    _write(spark, tmp_path, "orders", orders)
    rows = daily_revenue_stl(spark, str(tmp_path)).collect()
    weekly_mean_milli = sum(int(p * 100) for p in dow_price) * 1000 // 7
    assert len(rows) == 28 - 6
    assert all(r.trend_milli == weekly_mean_milli for r in rows)
    assert all(r.remainder_milli == 0 for r in rows)
    # seasonal = value - weekly mean, identical across weeks
    for r in rows:
        assert r.seasonal_milli == r.revenue_cents * 1000 - weekly_mean_milli
    assert sum(r.trend_milli + r.seasonal_milli + r.remainder_milli
               for r in rows) == sum(r.revenue_cents * 1000 for r in rows)


def test_robust_outlier_mad_hand_fixture(spark, tmp_path):
    """Lower-median/MAD semantics on a hand-built events table:
    type 'view' = nine 1.00s plus one 100.00 (median 100 cents,
    MAD 0 — the degenerate fence flags the single far point);
    type 'click' = 1..5 dollars (median 300, MAD 100, fence 500,
    zero outliers)."""
    from simpleetlpipeline_spark.plans.advanced import robust_outlier_mad

    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(minutes=i), 1, "view",
             1.0 if i < 9 else 100.0, "{}") for i in range(10)]
    rows += [(100 + i, t0 + timedelta(minutes=i), 2, "click",
              float(i + 1), "{}") for i in range(5)]
    _write(spark, tmp_path, "events", rows)
    got = {r["etype"]: r for r in
           robust_outlier_mad(spark, str(tmp_path)).collect()}
    v = got["view"]
    assert (v["n_events"], v["median_cents"], v["mad_cents"],
            v["n_outliers"], v["outlier_ppm"]) == (10, 100, 0, 1, 100000)
    c = got["click"]
    assert (c["n_events"], c["median_cents"], c["mad_cents"],
            c["n_outliers"], c["outlier_ppm"]) == (5, 300, 100, 0, 0)


def test_woe_encoding_hand_fixture(spark, tmp_path):
    """WOE/IV against the hand formula: segment A 2 pos / 1 neg,
    segment B 0 pos / 2 neg; Laplace +1 with S=2 segments."""
    from simpleetlpipeline_spark.functions.pretrain import woe_encoding

    cust = [(k, f"c{k}", 0, 0.0, "SEG_A" if k < 3 else "SEG_B")
            for k in range(5)]
    # customers 0,1 ordered after the 2000-01-01 cutoff (positive)
    orders = [(1, 0, "Completed", 1.0, datetime(2000, 6, 1), "1-URGENT"),
              (2, 1, "Completed", 1.0, datetime(2001, 1, 1), "1-URGENT"),
              (3, 2, "Completed", 1.0, datetime(1999, 1, 1), "1-URGENT"),
              (4, 3, "Completed", 1.0, datetime(1998, 1, 1), "1-URGENT")]
    _write(spark, tmp_path, "customer", cust)
    _write(spark, tmp_path, "orders", orders)
    got = {r["c_mktsegment"]: r for r in
           woe_encoding(spark, str(tmp_path)).collect()}
    a, b = got["SEG_A"], got["SEG_B"]
    assert (a["n_pos"], a["n_neg"]) == (2, 1)
    assert (b["n_pos"], b["n_neg"]) == (0, 2)
    pos_tot, neg_tot, s = 2, 3, 2
    for r, (np_, nn_) in ((a, (2, 1)), (b, (0, 2))):
        odds = ((np_ + 1) * (neg_tot + s)) / ((nn_ + 1) * (pos_tot + s))
        woe = math.log(odds)
        assert r["woe_lp7"] == math.floor(woe * 1e7)
        share = (np_ + 1) / (pos_tot + s) - (nn_ + 1) / (neg_tot + s)
        assert r["iv_contrib_lp7"] == math.floor(share * woe * 1e7)


def test_embedding_dim_stats_hand_fixture(spark, tmp_path):
    """Per-dim mean/var against exact integer arithmetic on a
    3-vector fixture (64 dims, only dims 0/1 nonzero)."""
    from simpleetlpipeline_spark.functions.similarity import (
        embedding_dim_stats)

    vecs = [
        (0, [0.5, -1.0] + [0.0] * 62, 0),
        (1, [1.5, 2.0] + [0.0] * 62, 0),
        (2, [2.5, -4.0] + [0.0] * 62, 1),
    ]
    _write(spark, tmp_path, "embeddings", vecs)
    got = {r["dim"]: r for r in
           embedding_dim_stats(spark, str(tmp_path)).collect()}
    assert len(got) == 64
    d0 = got[0]
    q = [50_000_000, 150_000_000, 250_000_000]
    assert d0["n_vectors"] == 3 and d0["sum_q8"] == sum(q)
    assert (d0["min_q8"], d0["max_q8"]) == (q[0], q[2])
    assert d0["mean_val"] == 1.5
    var_num = 3 * sum(x * x for x in q) - sum(q) ** 2
    assert d0["var_micro"] == math.floor(var_num / 9 / 1e16 * 1e6)
    d1 = got[1]
    assert (d1["min_q8"], d1["max_q8"]) == (-400_000_000, 200_000_000)
    assert got[5]["var_micro"] == 0 and got[5]["sum_q8"] == 0


def test_zipf_term_fit_hand_fixture(spark, tmp_path):
    """OLS slope over quantized (ln rank, ln count) points matches a
    pure-Python replica on a 4-term corpus with counts 8/4/2/1."""
    from simpleetlpipeline_spark.functions.text import zipf_term_fit

    text = " ".join(["aa"] * 8 + ["bb"] * 4 + ["cc"] * 2 + ["dd"])
    _write(spark, tmp_path, "documents",
           [(0, text, "en", "s", len(text))])
    [r] = zipf_term_fit(spark, str(tmp_path)).collect()
    counts = [8, 4, 2, 1]
    pts = [(math.floor(math.log(i + 1) * 1e7),
            math.floor(math.log(c) * 1e7))
           for i, c in enumerate(counts)]
    n = len(pts)
    sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] ** 2 for p in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r["n_terms"] == 4
    assert r["slope_nano"] == math.floor(slope * 1e9)
    # counts 8/4/2/1 over ranks 1..4 are near-perfectly Zipf-ish
    # (log2-spaced), so the fit must be tight and negative
    assert r["r2_micro"] > 900_000 and r["slope_nano"] < 0


def test_table_stats_profile_hand_fixture(spark, tmp_path):
    """Null accounting, exact ndv, and canonical bounds on a 3-row
    orders fixture with one NULL customer."""
    from simpleetlpipeline_spark.operators.quality import (
        table_stats_profile)

    rows = [(1, 10, "Completed", 19.99, datetime(2020, 1, 1), "1-URGENT"),
            (2, None, "Pending", 5.00, datetime(2021, 6, 1), "2-HIGH"),
            (3, 10, "Completed", 7.50, datetime(2020, 1, 1), "3-LOW")]
    _write(spark, tmp_path, "orders", rows)
    got = {r["column_name"]: r for r in
           table_stats_profile(spark, str(tmp_path)).collect()}
    ck = got["o_custkey"]
    assert (ck["n_rows"], ck["n_null"], ck["n_distinct"]) == (3, 1, 1)
    assert (ck["min_canonical"], ck["max_canonical"]) == ("10", "10")
    tp = got["o_totalprice"]
    # floor-cents: 19.99 is 1998.999... in IEEE, so floor gives 1998
    # (the same double op in both engines — the documented contract)
    assert (tp["min_canonical"], tp["max_canonical"]) == ("500", "1998")
    assert tp["n_distinct"] == 3
    st = got["o_orderstatus"]
    assert st["n_distinct"] == 2
    # 'Completed'(9) x2 + 'Pending'(7) = 25 chars over 3 rows
    assert st["avg_len_milli"] == 25 * 1000 // 3
    od = got["o_orderdate"]
    assert od["n_distinct"] == 2
    assert int(od["min_canonical"]) == int(
        datetime(2020, 1, 1).timestamp() * 0) + 1577836800000000


def test_user_activity_streaks_hand_fixture(spark, tmp_path):
    """Islands semantics: user 1 has runs [d1-d3] and [d5-d6] (max 3,
    earliest-start tie-break), user 2 a single day."""
    from simpleetlpipeline_spark.plans.advanced import (
        user_activity_streaks)

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in (0, 1, 2, 4, 5):
        for h in (9, 15):  # duplicate same-day events must collapse
            rows.append((eid, t0 + timedelta(days=day, hours=h),
                         1, "view", 1.0, "{}"))
            eid += 1
    rows.append((eid, t0 + timedelta(days=9), 2, "view", 1.0, "{}"))
    _write(spark, tmp_path, "events", rows)
    got = user_activity_streaks(spark, str(tmp_path)).collect()
    assert [(r["rank"], r["user_id"], r["max_streak"], r["n_streaks"],
             r["n_active_days"]) for r in got] == \
        [(1, 1, 3, 2, 5), (2, 2, 1, 1, 1)]
    d0 = (datetime(2024, 1, 1) - datetime(1970, 1, 1)).days
    assert got[0]["streak_start_dayn"] == d0


def test_gains_lift_table_hand_fixture(spark, tmp_path):
    """4 customers, spends 400>300>200>100 pre-cutoff; the top and
    bottom spenders repeat post-cutoff. ntile(10) over 4 rows gives
    one decile per customer; verify rates/gains/lift by hand."""
    from simpleetlpipeline_spark.functions.pretrain import (
        gains_lift_table)

    pre, post = datetime(1999, 1, 1), datetime(2000, 6, 1)
    orders = [(1, 1, "Completed", 400.0, pre, "1-URGENT"),
              (2, 2, "Completed", 300.0, pre, "1-URGENT"),
              (3, 3, "Completed", 200.0, pre, "1-URGENT"),
              (4, 4, "Completed", 100.0, pre, "1-URGENT"),
              (5, 1, "Completed", 10.0, post, "1-URGENT"),
              (6, 4, "Completed", 10.0, post, "1-URGENT")]
    _write(spark, tmp_path, "orders", orders)
    got = {r["decile"]: r for r in
           gains_lift_table(spark, str(tmp_path)).collect()}
    # deciles 1..4 hold customers 1..4 (spend desc)
    assert [got[d]["n_repeat"] for d in (1, 2, 3, 4)] == [1, 0, 0, 1]
    assert got[1]["repeat_rate_micro"] == 1_000_000
    assert got[1]["cum_gain_micro"] == 500_000   # 1 of 2 repeats
    assert got[4]["cum_gain_micro"] == 1_000_000
    # lift = rate / base_rate; base = 2/4 -> decile 1 lift = 2.0
    assert got[1]["lift_micro"] == 2_000_000
    assert got[2]["lift_micro"] == 0


def test_quantile_normalize_quality_hand_fixture(spark, tmp_path):
    """Percentile = strictly-below share within source; ties share a
    percentile. Scores are driven by token counts (quality rises
    with length up to 50 tokens, no stopwords used)."""
    from simpleetlpipeline_spark.functions.pretrain import (
        quantile_normalize_quality)

    def doc(i, n_tokens, source):
        text = " ".join(f"tok{j}" for j in range(n_tokens))
        return (i, text, "en", source, len(text))

    # source A: 10, 20, 40 tokens -> strictly increasing scores;
    # plus a tie pair at 20 tokens
    docs = [doc(0, 10, "A"), doc(1, 20, "A"), doc(2, 40, "A"),
            doc(3, 20, "A"), doc(4, 10, "B")]
    _write(spark, tmp_path, "documents", docs)
    got = {r["doc_id"]: r["pct_micro"] for r in
           quantile_normalize_quality(spark, str(tmp_path)).collect()}
    assert got[0] == 0                 # lowest in A: 0 below
    assert got[1] == got[3] == 250_000  # tie pair: 1 of 4 below
    assert got[2] == 750_000            # top: 3 of 4 below
    assert got[4] == 0                  # sole doc in B


def test_ngram_novelty_hand_fixture(spark, tmp_path):
    """doc0 shares its first 5-gram with doc1; doc2 is too short for
    any gram (NULL novelty, zero counts)."""
    from simpleetlpipeline_spark.functions.text import (
        ngram_novelty_score)

    docs = [(0, "a b c d e f", "en", "s", 11),
            (1, "a b c d e", "en", "s", 9),
            (2, "x y", "en", "s", 3)]
    _write(spark, tmp_path, "documents", docs)
    got = {r["doc_id"]: (r["n_grams"], r["n_unique"], r["novelty_micro"])
           for r in ngram_novelty_score(spark, str(tmp_path)).collect()}
    assert got[0] == (2, 1, 500_000)   # 'b c d e f' is unique
    assert got[1] == (1, 0, 0)         # its only gram is shared
    assert got[2] == (0, 0, None)


def test_source_overlap_matrix_hand_fixture(spark, tmp_path):
    """Sources A/B share one shingle; Jaccard = 1/(2+1-1) = 0.5;
    pair emitted once with source_a < source_b."""
    from simpleetlpipeline_spark.functions.dedup import (
        source_overlap_matrix)

    docs = [(0, "a b c d e f", "en", "A", 11),
            (1, "a b c d e", "en", "B", 9)]
    _write(spark, tmp_path, "documents", docs)
    rows = source_overlap_matrix(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["source_a"], r["source_b"], r["n_a"], r["n_b"],
            r["n_shared"], r["jaccard_micro"]) == \
        ("A", "B", 2, 1, 1, 500_000)


def test_interarrival_profile_hand_fixture(spark, tmp_path):
    """Gaps 10s and 20s for one user/type: lower median 10, p90 20,
    sub-second remainders floor away (integer div)."""
    from simpleetlpipeline_spark.plans.advanced import (
        interarrival_time_profile)

    t0 = datetime(2024, 1, 1)
    rows = _ev([
        (t0, 1, "view", 1.0),
        (t0 + timedelta(seconds=10), 1, "view", 1.0),
        (t0 + timedelta(seconds=30), 1, "view", 1.0),
        (t0, 2, "click", 1.0),
        (t0 + timedelta(seconds=1, microseconds=900_000), 2,
         "click", 1.0),
    ])
    _write(spark, tmp_path, "events", rows)
    got = {r["event_type"]: r for r in
           interarrival_time_profile(spark, str(tmp_path)).collect()}
    v = got["view"]
    assert (v["n_gaps"], v["median_gap_s"], v["p90_gap_s"],
            v["max_gap_s"]) == (2, 10, 20, 20)
    c = got["click"]
    assert (c["n_gaps"], c["median_gap_s"], c["max_gap_s"]) == (1, 1, 1)


def test_expectation_suite_detects_each_violation(spark, tmp_path):
    """Each expectation must count its own violation class on a
    deliberately broken fixture: one NULL custkey, one duplicated
    orderkey, one non-positive price, one unknown status, one orphan
    lineitem (the clean-testdata all-pass run can't prove the
    detection path)."""
    from simpleetlpipeline_spark.operators.quality import (
        expectation_suite_report)

    day = datetime(1995, 6, 1)
    orders = [
        (1, 10, "P", 5.0, day, "1-URGENT"),
        (1, 11, "O", 6.0, day, "1-URGENT"),     # duplicate key
        (2, None, "F", 7.0, day, "1-URGENT"),   # null custkey
        (3, 12, "X", 8.0, day, "1-URGENT"),     # bad status
        (4, 13, "P", 0.0, day, "1-URGENT"),     # non-positive price
    ]
    li = [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day),
          (99, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day)]  # orphan
    _write(spark, tmp_path, "orders", orders)
    _write(spark, tmp_path, "lineitem", li)
    got = {r["expectation"]: (r["n_checked"], r["n_failed"], r["passed"])
           for r in expectation_suite_report(spark, str(tmp_path))
           .collect()}
    assert got["not_null__o_custkey"] == (5, 1, False)
    assert got["unique__o_orderkey"] == (5, 1, False)
    assert got["accepted_range__o_totalprice_gt_0"] == (5, 1, False)
    assert got["accepted_values__o_orderstatus"] == (5, 1, False)
    assert got["relationships__l_orderkey_in_orders"] == (2, 1, False)


def test_user_sequence_entropy_hand_fixture(spark, tmp_path):
    """A constant-next-action user scores exactly 0; a perfect
    two-state alternator scores ln(2) on the lp7 grid; a short
    history is filtered by the min-transition threshold."""
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(41):                      # user 1: view/click loop
        rows.append((eid, t0 + timedelta(minutes=i), 1,
                     "view" if i % 2 == 0 else "click", 1.0, "{}"))
        eid += 1
    for i in range(25):                      # user 2: all view
        rows.append((eid, t0 + timedelta(minutes=i), 2,
                     "view", 1.0, "{}"))
        eid += 1
    for i in range(5):                       # user 3: too short
        rows.append((eid, t0 + timedelta(minutes=i), 3,
                     "view", 1.0, "{}"))
        eid += 1
    _write(spark, tmp_path, "events", rows)
    from simpleetlpipeline_spark.plans.advanced import (
        user_sequence_entropy)
    got = user_sequence_entropy(spark, str(tmp_path)).collect()
    assert [(r["rank"], r["user_id"]) for r in got] == [(1, 2), (2, 1)]
    assert got[0]["entropy_lp7"] == 0
    n = 40
    term = math.floor(20 * math.log(0.5) * 1e7)
    assert got[1]["entropy_lp7"] == (-2 * term) // n
    assert got[1]["n_transitions"] == n


def test_weighted_price_percentiles_hand_fixture(spark, tmp_path):
    """Weighted order statistics: a 99-unit cheap line dominates all
    three percentiles for flag N; flag R's cumulative weights place
    p25/p50/p75 at three distinct prices."""
    day = datetime(1995, 1, 1)

    def row(okey, price, qty, flag):
        return (okey, 1, 1, 1, float(qty), float(price), 0.0, 0.0,
                flag, "O", day)

    li = [row(1, 1.00, 99, "N"), row(2, 100.00, 1, "N"),
          row(3, 1.00, 1, "R"), row(4, 2.00, 1, "R"),
          row(5, 3.00, 2, "R")]
    _write(spark, tmp_path, "lineitem", li)
    from simpleetlpipeline_spark.plans.advanced import (
        weighted_price_percentiles)
    got = {r["l_returnflag"]: r for r in
           weighted_price_percentiles(spark, str(tmp_path)).collect()}
    n = got["N"]
    assert (n["total_weight"], n["p25_cents"], n["p50_cents"],
            n["p75_cents"]) == (100, 100, 100, 100)
    r = got["R"]
    assert (r["total_weight"], r["p25_cents"], r["p50_cents"],
            r["p75_cents"]) == (4, 100, 200, 300)


def test_ks_drift_matches_independent_pandas(spark, sf_dir):
    """Third-implementation check (the chi-square/PSI zero-cell
    lesson: Spark and the DuckDB oracle could share a formula bias,
    so the statistic is recomputed from scratch in pandas)."""
    import pandas as pd

    from simpleetlpipeline_spark.operators.dates import day_lit
    from simpleetlpipeline_spark.plans.advanced import (
        KS_SPLIT,
        order_value_ks_drift,
    )

    got = order_value_ks_drift(spark, sf_dir).collect()[0]
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = (pdf["o_totalprice"].round(2) * 100).round().astype("int64")
    days = (pdf["o_orderdate"].to_numpy().astype("datetime64[us]")
            .astype("int64") // 86_400_000_000)
    a = cents[days < day_lit(KS_SPLIT)].sort_values().to_numpy()
    b = cents[days >= day_lit(KS_SPLIT)].sort_values().to_numpy()
    import numpy as np

    xs = np.unique(np.concatenate([a, b]))
    gap = np.abs(np.searchsorted(a, xs, "right") / len(a)
                 - np.searchsorted(b, xs, "right") / len(b))
    assert got.n_a == len(a) and got.n_b == len(b)
    assert abs(got.ks_d - gap.max()) < 2e-6


def test_calibration_reliability_ece_brier_sanity(spark, sf_dir):
    """ECE/Brier recomputed independently in pandas from the raw
    orders table; also checks the per-bin identities (sum_p within
    [0, 1e6*n], gap == |sum_p - 1e6*repeat|)."""
    import numpy as np
    import pandas as pd

    from simpleetlpipeline_spark.functions.pretrain import (
        WOE_CUTOFF,
        calibration_reliability,
    )

    rows = calibration_reliability(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cutoff = pd.Timestamp(WOE_CUTOFF)
    pre = pdf[pdf["o_orderdate"] < cutoff]
    post = pdf[pdf["o_orderdate"] >= cutoff]
    spend = pre.groupby("o_custkey")["o_totalprice"].apply(
        lambda s: s.round(2).sum()).round(2)
    y = spend.index.isin(post["o_custkey"].unique()).astype(int)
    df = (pd.DataFrame({"spend": spend, "y": y})
          .reset_index()
          .sort_values(["spend", "o_custkey"],
                       ascending=[False, True])
          .reset_index(drop=True))
    n = len(df)
    df["r"] = np.arange(1, n + 1)
    df["p_micro"] = (n - df["r"] + 1) * 1_000_000 // n
    total_gap = sum(r.cal_gap_e6 for r in rows)
    total_sq = sum(int(r.brier_sum_e12) for r in rows)
    brier = total_sq / 1e12 / n
    want_brier = (((df["p_micro"] - 1_000_000 * df["y"]) ** 2).sum()
                  / 1e12 / n)
    assert sum(r.n_customers for r in rows) == n
    assert sum(r.n_repeat for r in rows) == int(df["y"].sum())
    assert abs(brier - want_brier) < 1e-9
    assert 0 <= total_gap <= 1_000_000 * n
    for r in rows:
        assert 0 <= r.sum_p_micro <= 1_000_000 * r.n_customers


def test_seasonal_naive_backtest_matches_pandas(spark, sf_dir):
    """Independent pandas recomputation (calendar joins, exact
    cents) of WAPE/MASE for one month."""
    import pandas as pd

    from simpleetlpipeline_spark.plans.advanced import (
        seasonal_naive_backtest,
    )

    rows = {r.month: r for r in
            seasonal_naive_backtest(spark, sf_dir).collect()}
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    days = (pdf["o_orderdate"].to_numpy().astype("datetime64[us]")
            .astype("int64") // 86_400_000_000)
    cents = (pdf["o_totalprice"].round(2) * 100).round().astype("int64")
    daily = (pd.DataFrame({"day": days, "cents": cents})
             .groupby("day")["cents"].sum())
    got_any = False
    for month, r in rows.items():
        sae7 = sae1 = sy = n = 0
        for d, y in daily.items():
            m = str(pd.Timestamp("1970-01-01")
                    + pd.Timedelta(days=int(d)))[:7]
            if m != month or (d - 7) not in daily.index \
                    or (d - 1) not in daily.index:
                continue
            n += 1
            sy += int(y)
            sae7 += abs(int(y) - int(daily[d - 7]))
            sae1 += abs(int(y) - int(daily[d - 1]))
        assert (r.n_days, r.sum_y, r.sae_seasonal, r.sae_naive1) == \
            (n, sy, sae7, sae1), month
        assert r.wape_micro == sae7 * 1_000_000 // sy
        assert r.mase_micro == sae7 * 1_000_000 // sae1
        got_any = True
        if len(rows) > 3 and month >= sorted(rows)[3]:
            break  # a few months suffice; pandas loop is the slow part
    assert got_any


def test_brand_triple_rules_identities(spark, sf_dir):
    """Support/confidence identities + non-vacuity: confidence and
    support-rate are valid micro-ratios, supports honor the relative
    floor, ordering is support-desc."""
    from simpleetlpipeline_spark.plans.relational import (
        brand_triple_rules,
    )

    rows = brand_triple_rules(spark, sf_dir).collect()
    assert rows, "triple mining must not be vacuous at test SF"
    sups = [r.support for r in rows]
    assert sups == sorted(sups, reverse=True)
    for r in rows:
        assert 2 <= r.support <= r.pair_support
        assert 0 < r.confidence_micro <= 1_000_000
        assert 0 < r.support_rate_micro <= 1_000_000
        assert r.brand_a < r.brand_b < r.brand_c


def test_dp_noise_quantization_boundary_margin():
    """ADVICE r7: dp_noisy_nation_counts is the one released value
    whose cross-engine parity rests on a transcendental (ln is not
    correctly rounded — JVM Math.log vs libm may differ by 1 ulp),
    quantized via floor(noise*1e4). The released noise depends ONLY
    on the nation key (md5-hash uniform), not on any data, so the 25
    possible values are permanent constants — this test proves every
    one sits >= 1e-4 away from a floor boundary, i.e. ~9 orders of
    magnitude beyond any 1-ulp log wobble, so the floored release is
    engine-independent for ALL fixtures, not just the swept ones."""
    import hashlib
    import math

    from simpleetlpipeline_spark.operators.quality import (
        DP_EPSILON_MILLI,
    )

    b = 1000.0 / DP_EPSILON_MILLI
    worst = 1.0
    for k in range(25):
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        c = u - 0.5
        noise = -b * math.copysign(1.0, c) * math.log(1.0 - 2.0 * abs(c))
        x = noise * 1e4
        worst = min(worst, x - math.floor(x), math.ceil(x) - x)
    assert worst >= 1e-4, (
        f"a nation's noise*1e4 sits {worst} from a floor boundary — "
        f"within reach of cross-engine ln() wobble; re-derive the "
        f"release as an exact integer before trusting the oracle")
