"""Property-based invariants (SURVEY.md §5 item 4) via hypothesis.

Few examples per property (each round-trips through Spark), chosen
to hit the structural edges: empty tables, all-null rows, duplicate
rows, epsilon monotonicity.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from simpleetlpipeline_spark.operators.quality import (
    check_data_quality, content_hash,
)
from simpleetlpipeline_spark.operators.transforms import filter_tolerance

SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("s", StringType()),
    StructField("v", DoubleType()),
])

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-10, max_value=10),
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
        st.one_of(st.none(),
                  st.floats(min_value=-100, max_value=100,
                            allow_nan=False, allow_infinity=False)),
    ),
    max_size=25,
)

SET = settings(max_examples=8, deadline=None,
               suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(rows=rows_strategy)
@SET
def test_quality_score_bounded(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    report = check_data_quality(df, "t")
    assert 0.0 <= report.quality_score <= 100.0
    assert report.duplicate_rows >= 0
    assert all(0 <= n <= report.row_count for n in report.null_counts.values())


@given(rows=st.lists(
    st.tuples(st.integers(-5, 5), st.just("x"),
              st.floats(0, 10, allow_nan=False)), min_size=1, max_size=20))
@SET
def test_content_hash_order_insensitive(spark, rows):
    df1 = spark.createDataFrame(rows, SCHEMA).repartition(4)
    df2 = spark.createDataFrame(list(reversed(rows)), SCHEMA).repartition(2)
    assert content_hash(df1) == content_hash(df2)


def test_content_hash_distinguishes_null_position(spark):
    """('a', NULL) vs (NULL, 'a') must hash differently — xxhash64
    skips null args, so a non-canonicalized hash would collapse
    them (ADVICE r1)."""
    df1 = spark.createDataFrame([("a", None)], "x string, y string")
    df2 = spark.createDataFrame([(None, "a")], "x string, y string")
    assert content_hash(df1) != content_hash(df2)
    r1 = check_data_quality(df1, "t", with_content_hash=True)
    r2 = check_data_quality(df2, "t", with_content_hash=True)
    assert r1.content_hash != r2.content_hash
    # and the lineage hash equals the standalone fingerprint
    assert r1.content_hash == content_hash(df1)


@given(rows=st.lists(
    st.tuples(st.floats(0, 100, allow_nan=False),
              st.floats(0, 100, allow_nan=False)), max_size=25),
    eps_small=st.floats(0.001, 0.01), eps_big=st.floats(0.02, 1.0))
@SET
def test_tolerance_filter_monotone_in_epsilon(spark, rows, eps_small, eps_big):
    """Rows kept at epsilon e1 <= rows kept at e2 when e1 <= e2."""
    schema = StructType([StructField("actual", DoubleType()),
                         StructField("expected", DoubleType())])
    df = spark.createDataFrame(rows, schema)
    kept_small = filter_tolerance(
        df, "actual", F.col("expected"), tolerance=eps_small).count()
    kept_big = filter_tolerance(
        df, "actual", F.col("expected"), tolerance=eps_big).count()
    assert kept_small <= kept_big


@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=1, max_size=200),
    min_size=1, max_size=10))
@SET
def test_chunking_tiles_any_corpus(spark, texts):
    """doc_chunk invariants hold for arbitrary whitespace shapes:
    chunks start at stride multiples, every chunk is 1..ctx tokens,
    and the last chunk ends exactly at the doc's token count."""
    from simpleetlpipeline_spark.functions.text import (
        CHUNK_CTX, CHUNK_STRIDE, tokens_col,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    toks = tokens_col(F.col("text"))
    n = F.size(toks).cast("long")
    base = df.select("doc_id", toks.alias("toks"), n.alias("n_tokens"))
    idx = F.sequence(
        F.lit(0), F.floor((F.col("n_tokens") - 1) / CHUNK_STRIDE).cast("long"))
    ch = base.select(
        "doc_id", "n_tokens", F.explode(idx).alias("chunk_idx"),
    ).withColumn("start_tok", F.col("chunk_idx") * CHUNK_STRIDE)
    chunk_len = F.least(F.lit(CHUNK_CTX).cast("long"),
                        F.col("n_tokens") - F.col("start_tok"))
    rows = ch.withColumn("chunk_tokens", chunk_len).collect()
    per_doc: dict = {}
    for r in rows:
        assert 1 <= r["chunk_tokens"] <= CHUNK_CTX
        assert r["start_tok"] == r["chunk_idx"] * CHUNK_STRIDE
        end = r["start_tok"] + r["chunk_tokens"]
        cur = per_doc.setdefault(r["doc_id"], [0, 0])
        cur[0] = max(cur[0], end)
        cur[1] = r["n_tokens"]
    for doc_id, (max_end, n_tokens) in per_doc.items():
        assert max_end == n_tokens, f"doc {doc_id} tail not covered"


@given(vecs=st.lists(
    st.lists(st.floats(-10, 10, allow_nan=False, allow_infinity=False),
             min_size=4, max_size=4)
    .filter(lambda v: max(abs(x) for x in v) > 1e-6),
    min_size=1, max_size=10))
@SET
def test_quantize_levels_bounded_any_vectors(spark, vecs):
    """int8 quantization invariants for arbitrary non-zero vectors:
    levels within [-128, 127], extreme level magnitude >= 126,
    positive scale."""
    from simpleetlpipeline_spark.functions.similarity import QUANT_LEVELS

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, e array<double>")
    absmax = F.array_max(F.transform("e", F.abs))
    scale = absmax / QUANT_LEVELS
    q = F.transform("e", lambda x: F.floor(x / scale).cast("long"))
    rows = df.select(
        F.array_min(q).alias("q_min"), F.array_max(q).alias("q_max"),
        scale.alias("scale")).collect()
    for r in rows:
        assert -128 <= r["q_min"] and r["q_max"] <= 127
        assert max(r["q_max"], -r["q_min"]) >= 126
        assert r["scale"] > 0


# --- SCD2 merge invariants (operators/scd.py) ----------------------

scd_updates_strategy = st.lists(
    st.tuples(st.integers(min_value=1, max_value=6),
              st.sampled_from(["a", "b", "c"]),
              st.sampled_from([1.0, 2.0])),
    max_size=6, unique_by=lambda t: t[0])


@given(upd=scd_updates_strategy)
@SET
def test_scd2_invariants(spark, upd):
    """After any update batch: exactly one current row per live key,
    closed rows outnumber nothing they shouldn't, and the merged
    table only grows (SCD2 never deletes)."""
    from simpleetlpipeline_spark.operators.scd import scd2_apply

    base_rows = [(k, "base", 0.0, 1, None) for k in range(1, 4)]
    base = spark.createDataFrame(
        base_rows, "k int, attr string, bal double, valid_from int, "
                   "valid_to int")
    updates = spark.createDataFrame(
        upd or [(99, "x", 9.9)], "k int, attr string, bal double")
    out = scd2_apply(base, updates, ["k"], ["attr", "bal"], version=2)
    rows = out.collect()
    assert len(rows) >= len(base_rows), "SCD2 never deletes"
    current = [r for r in rows if r.valid_to is None]
    per_key = {}
    for r in current:
        per_key[r.k] = per_key.get(r.k, 0) + 1
    assert all(v == 1 for v in per_key.values()), \
        "exactly one current row per key"
    live_keys = {r[0] for r in base_rows} | {u[0] for u in (upd or [(99,)])}
    assert set(per_key) == live_keys, "every key stays queryable"
    for r in rows:
        if r.valid_to is not None:
            assert r.valid_to > r.valid_from, "closed ranges are ordered"


def test_float_queries_survive_hostile_partitioning():
    """Gate replica under shuffle_partitions=3 for the most float-
    sensitive oracled queries: a different partitioning changes every
    aggregate's fold order, so any hashed column that depends on
    float accumulation order (the doc_logprob bug class, ADVICE r3)
    fails HERE before the driver's gate can see it. Subprocess so the
    hostile session cannot leak conf into the shared fixture."""
    import os
    import subprocess
    import sys

    queries = [
        "doc_logprob", "bigram_pmi", "token_char_correlation",
        "promo_revenue_monthly", "monthly_sales_incremental",
        "order_value_percentiles",
    ]
    r = subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(os.path.dirname(
             os.path.abspath(__file__))), "tools", "check_oracle.py"),
         "/root/testdata/sf0.001", *queries],
        env={**os.environ,
             "SPARK_GRAFT_ORACLE_SHUFFLE": "3",
             "SPARK_GRAFT_ORACLE_CPUS": "4"},
        capture_output=True, text=True, timeout=420)
    assert r.returncode == 0 and "0 failures" in r.stdout, \
        r.stdout[-1500:] + r.stderr[-500:]


@given(st.lists(
    st.tuples(st.integers(min_value=1, max_value=400),      # orderkey
              st.integers(min_value=0, max_value=23),       # month idx
              st.floats(min_value=1, max_value=99999,
                        allow_nan=False, allow_infinity=False)),
    min_size=0, max_size=40, unique_by=lambda t: t[0]))
@SET
def test_retraction_ivm_equals_recompute_any_orders(spark, rows):
    """Signed-delta maintenance == full recompute for ANY order set
    (the algebra, not one dataset): random keys decide deletes and
    corrections via the same mod rules as the catalog query."""
    import os
    import tempfile

    from simpleetlpipeline_spark.plans.relational import (
        monthly_sales_retract)

    data = [(k, 1000 + k,
             f"1997-{(m % 12) + 1:02d}-15", round(p, 2), "F", "1-URGENT")
            for k, m, p in rows]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            data, "o_orderkey long, o_custkey long, o_orderdate string, "
                  "o_totalprice double, o_orderstatus string, "
                  "o_orderpriority string"
        ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")) \
         .write.parquet(os.path.join(td, "orders.parquet"))
        out = monthly_sales_retract(spark, td).collect()
    for r in out:
        assert r["total_orders"] == r["recheck_orders"]
        assert r["total_revenue_milli"] == r["recheck_revenue_milli"]


@given(st.lists(st.tuples(st.integers(min_value=0, max_value=65535),
                          st.integers(min_value=0, max_value=65535)),
                min_size=1, max_size=30))
@SET
def test_zorder_interleave_is_invertible(spark, keys):
    """The Morton interleave must be a BIJECTION on (ux, tx) — the
    property that makes z-ranges decodable back to key ranges for
    pruning. Checked by de-interleaving the SQL-computed z."""
    from simpleetlpipeline_spark.plans.advanced import _shift_sql, _z_expr

    df = spark.createDataFrame(
        [(u, t) for u, t in keys], "ux long, tx long")
    z = df.select("ux", "tx",
                  F.expr(_z_expr("ux", "tx", _shift_sql)).alias("z")
                  ).collect()
    for r in z:
        u = t = 0
        for i in range(16):
            u |= ((r["z"] >> (2 * i)) & 1) << i
            t |= ((r["z"] >> (2 * i + 1)) & 1) << i
        assert (u, t) == (r["ux"], r["tx"])


def _segment_dedup_reference(docs, seg_len):
    """Pure-Python reference: first (doc_id, seg_idx) occurrence of
    each seg_len-token segment survives; docs rebuild in order."""
    seen = {}
    segs_by_doc = {}
    for doc_id, text in sorted(docs):
        toks = text.strip().lower().split()
        segs = [" ".join(toks[i:i + seg_len])
                for i in range(0, max(len(toks), 1), seg_len)]
        segs_by_doc[doc_id] = segs
        for idx, s in enumerate(segs):
            seen.setdefault(s, (doc_id, idx))
    out = {}
    for doc_id, segs in segs_by_doc.items():
        kept = [s for i, s in enumerate(segs)
                if seen[s] == (doc_id, i)]
        out[doc_id] = (len(segs), len(kept), " ".join(kept))
    return out


@given(texts=st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]),
             min_size=1, max_size=9).map(" ".join),
    min_size=1, max_size=12))
@SET
def test_segment_dedup_matches_reference_any_corpus(spark, tmp_path_factory,
                                                    texts):
    """segment_dedup == the sequential first-occurrence reference on
    arbitrary corpora from a tiny alphabet (maximal collision
    pressure: most 3-token segments repeat across docs)."""
    import hashlib

    from unittest import mock

    from simpleetlpipeline_spark.functions import dedup

    docs = list(enumerate(texts))
    path = tmp_path_factory.mktemp("segdd")
    (spark.createDataFrame(docs, "doc_id long, text string")
     .repartition(3)
     .write.mode("overwrite").parquet(str(path / "documents.parquet")))
    # patch.object, not monkeypatch: function-scoped fixtures are not
    # reset between @given examples
    with mock.patch.object(dedup, "SEGMENT_LEN", 3):
        got = {r["doc_id"]: r for r in
               dedup.segment_dedup(spark, str(path)).collect()}
    ref = _segment_dedup_reference(docs, 3)
    assert set(got) == set(ref)
    for doc_id, (n_segs, n_kept, txt) in ref.items():
        r = got[doc_id]
        assert (r["n_segments"], r["n_kept"]) == (n_segs, n_kept), doc_id
        assert r["kept_text_md5"] == hashlib.md5(txt.encode()).hexdigest()


from pyspark.sql.types import TimestampType  # noqa: E402

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


@given(events=st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),           # user
        st.integers(min_value=0, max_value=72),          # hour offset
        st.sampled_from(["click", "view", "purchase"]),
        st.integers(min_value=1, max_value=9999),        # cents
    ),
    min_size=1, max_size=30))
@SET
def test_attribution_conservation(spark, tmp_path_factory, events):
    """Linear attribution must conserve money: summed credits equal
    the full value of every purchase with >= 1 touch in its window,
    up to the documented DIV-truncation (< n_touch micro-cents per
    purchase); purchases with no touch contribute nothing."""
    import os
    from datetime import datetime, timedelta

    from simpleetlpipeline_spark.plans.advanced import (
        ATTR_WINDOW_US,
        revenue_attribution,
    )

    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(hours=h), u, et, c / 100.0, "{}")
            for i, (u, h, et, c) in enumerate(events)]
    sf_dir = str(tmp_path_factory.mktemp("attr"))
    (spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1)
     .write.parquet(os.path.join(sf_dir, "events.parquet")))

    got = revenue_attribution(spark, sf_dir).collect()
    by_model = {}
    for r in got:
        by_model.setdefault(r["model"], 0)
        by_model[r["model"]] += r["attributed_micro_cents"]

    # sequential reference: purchases with a touch in (t-24h, t]
    touches = [(u, t0 + timedelta(hours=h)) for (u, h, et, c) in events
               if et in ("click", "view")]
    attributed, n_pairs = 0, 0
    for (u, h, et, c) in events:
        if et != "purchase":
            continue
        pts = t0 + timedelta(hours=h)
        n_touch = sum(
            1 for (tu, tts) in touches
            if tu == u and pts - timedelta(microseconds=ATTR_WINDOW_US)
            < tts <= pts)
        if n_touch:
            attributed += c * 1_000_000
            n_pairs += 1
    if attributed == 0:
        assert by_model == {}
        return
    assert by_model["last_touch"] == attributed
    # linear loses < n_touch micro-cents per purchase to truncation
    assert 0 <= attributed - by_model["linear"] < n_pairs * 1_000


@given(pts=st.lists(
    st.tuples(st.integers(-5, 5), st.integers(-5, 5)),
    min_size=0, max_size=30))
@SET
def test_skyline_2d_matches_bruteforce(spark, pts):
    """skyline_2d (two-phase window sweep) == O(n^2) dominance scan,
    for any point multiset including duplicate points and single-dim
    ties, regardless of how rows land in partitions."""
    from pyspark.sql.types import IntegerType
    from simpleetlpipeline_spark.plans.advanced import skyline_2d

    schema = StructType([StructField("x", LongType()),
                         StructField("y", LongType()),
                         StructField("rid", LongType())])
    rows = [(x, y, i) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, schema).repartition(3)
    got = sorted((r.x, r.y, r.rid)
                 for r in skyline_2d(df, "x", "y").collect())

    def dominated(p, q):  # q dominates p
        return (q[0] <= p[0] and q[1] >= p[1]
                and (q[0] < p[0] or q[1] > p[1]))

    want = sorted(p for p in rows
                  if not any(dominated(p, q) for q in rows))
    assert got == want
