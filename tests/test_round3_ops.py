"""Unit tests for the round-3 operators: chunking, BPE merge-pair
counting, sketch aggregates, int8 quantization, incremental dedup.

Oracle parity for each is covered by tools/check_oracle.py (all six
have DuckDB twins); these tests pin the structural invariants the
oracle hash can't express directly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from simpleetlpipeline_spark.functions.dedup import dedup_incremental
from simpleetlpipeline_spark.functions.sketches import (
    approx_distinct_users,
    quantile_sketch,
)
from simpleetlpipeline_spark.functions.similarity import embedding_quantize
from simpleetlpipeline_spark.functions.text import (
    CHUNK_CTX,
    CHUNK_STRIDE,
    bpe_merge_pairs,
    doc_chunk,
    tokens_col,
)
from simpleetlpipeline_spark.io import read_table


def test_doc_chunk_covers_every_token(spark, sf_dir):
    """Chunk spans tile the doc: first starts at 0, the chunk count
    matches the stride arithmetic, and the last chunk reaches the
    final token — so no token is outside every chunk."""
    chunks = doc_chunk(spark, sf_dir)
    n_tok = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("n"))
    per_doc = (
        chunks.groupBy("doc_id").agg(
            F.min("start_tok").alias("first_start"),
            F.max(F.col("start_tok") + F.col("chunk_tokens")).alias("max_end"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_idx").alias("max_idx"),
        ).join(n_tok, "doc_id")
    )
    bad = per_doc.filter(
        (F.col("first_start") != 0)
        | (F.col("max_end") != F.col("n"))
        | (F.col("n_chunks") != F.col("max_idx") + 1)
        | (F.col("n_chunks") != F.floor((F.col("n") - 1) / CHUNK_STRIDE) + 1)
    )
    assert bad.count() == 0
    assert chunks.filter(
        (F.col("chunk_tokens") <= 0)
        | (F.col("chunk_tokens") > CHUNK_CTX)).count() == 0


def test_bpe_merge_pairs_counts_match_manual(spark, sf_dir, monkeypatch):
    df = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b x")], "doc_id long, text string")
    toks = tokens_col(F.col("text"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)))
    got = {r["p"]: r["count"] for r in
           df.select(F.explode(pairs).alias("p")).groupBy("p").count()
           .collect()}
    # "a b" appears in doc0 twice and doc1 once
    assert got == {"a b": 3, "b a": 1, "b c": 1, "b x": 1}
    # catalog entry: at most BPE_MERGE_TOP_N rows, ordered by count desc
    from simpleetlpipeline_spark.functions import text

    monkeypatch.setattr(text, "BPE_MERGE_TOP_N", 5)
    top = bpe_merge_pairs(spark, sf_dir).collect()
    assert len(top) == 5
    counts = [r["n_occurrences"] for r in top]
    assert counts == sorted(counts, reverse=True)


def test_sketch_bounds_hold(spark, sf_dir):
    for row in approx_distinct_users(spark, sf_dir).collect():
        assert row["hll_ok"] is True
        assert row["n_users_exact"] <= row["n_events"]
    for row in quantile_sketch(spark, sf_dir).collect():
        assert row["p50_ok"] and row["p90_ok"] and row["p99_ok"]


def test_embedding_quantize_range_and_scale(spark, sf_dir):
    q = embedding_quantize(spark, sf_dir)
    # floor(x/scale) with scale = max|x|/127 keeps every level within
    # [-128, 127]: the max-|x| element lands at +/-127, but one ulp of
    # divide rounding can push a negative extreme to -127.0000...1,
    # flooring to -128 — exactly the int8 range. The extreme level is
    # always >= 126 in magnitude.
    assert q.filter((F.col("q_min") < -128) | (F.col("q_max") > 127)).count() == 0
    assert q.filter(F.greatest(F.col("q_max"), -F.col("q_min")) < 126).count() == 0
    assert q.filter(F.col("scale6") <= 0).count() == 0


def test_dedup_incremental_flags_planted_dup(spark, tmp_path):
    import os

    docs = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (5, "other text"),
         (10, "unique text"), (3, "base only")],
        "doc_id long, text string")
    path = os.path.join(str(tmp_path), "documents.parquet")
    docs.write.parquet(path)
    out = {r["doc_id"]: r["is_dup"]
           for r in dedup_incremental(spark, str(tmp_path)).collect()}
    # batch = doc_id % 5 == 0 -> {0, 5, 10}; base = {1, 3}
    assert out == {0: True, 5: False, 10: False}


def test_tokenize_ids_oov_and_counts(spark, sf_dir):
    from simpleetlpipeline_spark.functions.text import tokenize_ids

    out = tokenize_ids(spark, sf_dir)
    assert out.filter(F.col("n_oov") > F.col("n_tokens")).count() == 0
    assert out.filter(F.col("n_tokens") <= 0).count() == 0


def test_fuzzy_neighbors_symmetric_and_blocked(spark, sf_dir):
    from simpleetlpipeline_spark.plans.advanced import fuzzy_name_neighbors

    out = fuzzy_name_neighbors(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, "self-join must block on a key"
    rows = {r["p_partkey"]: r for r in out.collect()}
    # neighbor relation is symmetric: if a's nearest is b with lev L,
    # then b has >= 1 neighbor too
    for r in rows.values():
        if r["n_neighbors"] > 0:
            assert rows[r["nearest_id"]]["n_neighbors"] > 0
            assert 0 <= r["best_lev"] <= 2
        else:
            assert r["best_lev"] == -1 and r["nearest_id"] == -1


def test_events_value_histogram_constant_type_guard(spark, tmp_path):
    """A constant-valued event type (hi == lo, width 0) must land
    every row in bucket 0 via the guarded width — not NaN/NULL."""
    import datetime
    import os

    from simpleetlpipeline_spark.plans.advanced import events_value_histogram

    ts = datetime.datetime(2024, 1, 1)
    rows = ([(i, ts, 1, "flat", 5.0, "{}") for i in range(10)]
            + [(100 + i, ts, 1, "vary", float(i), "{}") for i in range(10)])
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.parquet(os.path.join(str(tmp_path), "events.parquet"))
    out = events_value_histogram(spark, str(tmp_path)).collect()
    flat = [r for r in out if r["event_type"] == "flat"]
    assert len(flat) == 1
    assert flat[0]["bucket"] == 0 and flat[0]["n_events"] == 10
    assert flat[0]["bucket_min"] == 5.0 and flat[0]["bucket_max"] == 5.0
    assert {r["bucket"] for r in out if r["event_type"] == "vary"} != {0}


def test_heavy_hitter_support_adapts_to_data(spark, tmp_path, monkeypatch):
    """freqItems' no-false-negative guarantee only holds for items with
    share > support, so the query derives support from the k-th
    hitter's observed share. Controlled skew: membership must be
    asserted (and hold) for every top-k row. Flat regime (floor raised
    above any attainable support): sketch_ok degrades to
    TRUE-by-contract instead of asserting an unpromised property."""
    import os
    from datetime import datetime

    from simpleetlpipeline_spark.functions import sketches

    rows = []
    eid = 0
    # user 1: 400 events, user 2: 200, users 100..199: 4 each
    for uid, n in [(1, 400), (2, 200)] + [(u, 4) for u in range(100, 200)]:
        for _ in range(n):
            rows.append((eid, datetime(2026, 1, 1), uid, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .write.parquet(os.path.join(str(tmp_path), "events.parquet"))

    monkeypatch.setattr(sketches, "HH_TOP_K", 5)
    out = sketches.heavy_hitter_users(spark, str(tmp_path)).collect()
    assert [r["user_id"] for r in out][:2] == [1, 2]
    # k-th hitter share = 4/1000 = 0.004 > support = min(1e-4, 0.002)
    # -> guarantee applies, membership genuinely asserted
    assert all(r["sketch_ok"] for r in out)

    # flat regime: raise the state floor above any attainable support
    monkeypatch.setattr(sketches, "HH_SUPPORT_FLOOR", 1.0)
    out2 = sketches.heavy_hitter_users(spark, str(tmp_path)).collect()
    assert all(r["sketch_ok"] for r in out2)


def test_dedup_shared_windows_planted_overlap(spark, tmp_path):
    """A verbatim 12-token run copied between otherwise-different
    documents must surface as a shared-window pair; unrelated docs
    must not pair."""
    import os

    from simpleetlpipeline_spark.functions.dedup import (
        dedup_shared_windows,
    )

    run = " ".join(f"tok{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, f"alpha beta {run} gamma"),
         (2, f"{run} delta epsilon zeta"),
         (3, "totally unrelated words only here"),
         (4, "another disjoint document body text")],
        "doc_id long, text string")
    docs.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    out = {(r.a_id, r.b_id): r.n_shared_windows
           for r in dedup_shared_windows(spark, str(tmp_path)).collect()}
    assert (1, 2) in out and out[(1, 2)] >= 1
    assert all(k == (1, 2) for k in out)
