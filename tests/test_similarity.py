"""Unit tests for similarity search: LSH recall vs exact ground
truth on synthetic near-dup data (the testdata embeddings are random
and have no high-cosine pairs, max pairwise sim ~0.48)."""

from __future__ import annotations

import math
import os
import random
import tempfile

import pytest
from pyspark.sql import functions as F

from simpleetlpipeline_spark.functions import similarity as S


@pytest.fixture(scope="module")
def synth_dir(spark):
    """64-dim corpus: 40 random base vectors + a jittered near-dup of
    each of the first 10 (cosine vs base > 0.99)."""
    rng = random.Random(42)
    rows = []
    bases = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(64)]
        bases.append(v)
        rows.append((i, [float(x) for x in v], i % 4))
    for j in range(10):
        v = [x + rng.gauss(0, 0.02) for x in bases[j]]
        rows.append((100 + j, [float(x) for x in v], j % 4))
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        yield td


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def test_ann_topk_matches_python_ground_truth(spark, synth_dir, monkeypatch):
    monkeypatch.setattr(S, "N_PROBES", 5)
    monkeypatch.setattr(S, "TOP_K", 3)
    out = S.ann_topk(spark, synth_dir).collect()
    emb = {r["vec_id"]: list(r["embedding"])
           for r in spark.read.parquet(
               os.path.join(synth_dir, "embeddings.parquet")).collect()}
    for a_id in range(5):
        got = [r["b_id"] for r in sorted(
            (r for r in out if r["a_id"] == a_id), key=lambda r: r["rank"])]
        sims = sorted(((math.floor(_cos(emb[a_id], e) * 10000) / 10000, -b)
                       for b, e in emb.items() if b != a_id), reverse=True)
        want = [-b for _, b in sims[:3]]
        assert got == want, f"probe {a_id}: {got} != {want}"


def test_neardup_exact_finds_planted_pairs(spark, synth_dir, monkeypatch):
    monkeypatch.setattr(S, "NEARDUP_THRESHOLD", 0.99)
    out = S.embedding_neardup(spark, synth_dir).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in out}
    assert {(j, 100 + j) for j in range(10)} <= pairs


def test_neardup_lsh_recall_on_planted_pairs(spark, synth_dir, monkeypatch):
    """Sign-random-projection blocking must recover nearly all planted
    cosine>0.99 pairs: P(bit agrees) = 1 - theta/pi ~ 0.98, so
    P(>=1 of 4 bands agrees) > 0.99."""
    monkeypatch.setattr(S, "NEARDUP_THRESHOLD", 0.99)
    out = S.embedding_neardup_lsh(spark, synth_dir).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in out}
    planted = {(j, 100 + j) for j in range(10)}
    assert len(pairs & planted) >= 9


def test_lsh_topk_rank1_is_neardup(spark, synth_dir, monkeypatch):
    """For probes with a planted near-dup, LSH ANN must rank it #1."""
    monkeypatch.setattr(S, "N_PROBES", 5)
    monkeypatch.setattr(S, "TOP_K", 3)
    out = S.ann_lsh_topk(spark, synth_dir).collect()
    rank1 = {r["a_id"]: r["b_id"] for r in out if r["rank"] == 1}
    hits = sum(1 for j in range(5) if rank1.get(j) == 100 + j)
    assert hits >= 4


def test_ivf_topk_rank1_is_neardup(spark, synth_dir, monkeypatch):
    """IVF cells are label-based; each planted near-dup shares its
    base vector's label, so with IVF_NPROBE>=1 the duplicate's cell is
    always probed and it must rank #1."""
    monkeypatch.setattr(S, "N_PROBES", 5)
    monkeypatch.setattr(S, "TOP_K", 3)
    monkeypatch.setattr(S, "IVF_NPROBE", 2)
    out = S.ann_ivf_topk(spark, synth_dir).collect()
    rank1 = {r["a_id"]: r["b_id"] for r in out if r["rank"] == 1}
    hits = sum(1 for j in range(5) if rank1.get(j) == 100 + j)
    assert hits >= 4


def test_label_centroids_shape(spark, sf_dir):
    rows = S.label_centroids(spark, sf_dir).collect()
    dims = {r["dim"] for r in rows}
    assert dims == set(range(64))
    assert all(r["n_vectors"] > 0 for r in rows)


def test_embedding_neardup_lsh_duplicate_heavy_star(spark, monkeypatch):
    """Bit-identical vectors must collapse before the SRP band join
    and come back as cosine-1.0 star edges on the group minimum —
    O(n) rows for an n-copy group, not C(n, 2)."""
    rng = random.Random(7)
    n = 300
    hot = [float(rng.gauss(0, 1)) for _ in range(64)]
    rows = [(i, hot, 0) for i in range(n)]
    rows += [(10_000 + i, [float(rng.gauss(0, 1)) for _ in range(64)], 1)
             for i in range(20)]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        monkeypatch.setattr(S, "NEARDUP_THRESHOLD", 0.9)
        out = S.embedding_neardup_lsh(spark, td).collect()
    grp = [r for r in out if r["a_id"] < 10_000 and r["b_id"] < 10_000]
    assert len(grp) == n - 1
    assert all(r["a_id"] == 0 and r["cosine_sim"] == 1.0 for r in grp)


def test_embedding_quantize_zero_vector_guard(spark):
    """An all-zero vector must quantize to all-zero digits (guarded
    divide), not NaN/NULL — and agree with the oracle's CASE guard."""
    rows = [(0, [0.0] * 64, 0),
            (1, [1.0, -2.0] + [0.0] * 62, 0)]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        out = {r["vec_id"]: r
               for r in S.embedding_quantize(spark, td).collect()}
    assert out[0]["scale6"] == 0.0
    assert out[0]["q_sum"] == 0
    assert out[0]["q_min"] == 0 and out[0]["q_max"] == 0
    assert out[1]["q_min"] == -127  # the regular path still scales


def test_embedding_neardup_guard_refuses_oversized_corpus(spark, sf_dir,
                                                          monkeypatch):
    """The exact form broadcasts the whole corpus; above
    EXACT_NEARDUP_MAX_BYTES it must fail fast with the scale-path
    alternative, not OOM."""
    monkeypatch.setattr(S, "EXACT_NEARDUP_MAX_BYTES", 1)
    with pytest.raises(ValueError, match="embedding_neardup_lsh"):
        S.embedding_neardup(spark, sf_dir)


def test_embedding_outliers_finds_planted_outlier(spark, monkeypatch):
    """A vector far from its label's centroid must rank first; the
    tight cluster members fill the remaining top-k slots with
    strictly smaller distances."""
    tight = [(i, [1.0, 0.0] + [0.0] * 62, 7) for i in range(6)]
    planted = (99, [0.0, 50.0] + [0.0] * 62, 7)
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            tight + [planted],
            "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        monkeypatch.setattr(S, "OUTLIER_TOP_K", 3)
        out = S.embedding_outliers(spark, td).collect()
    assert len(out) == 3
    top = sorted(out, key=lambda r: r["rank"])
    assert top[0]["vec_id"] == 99 and top[0]["rank"] == 1
    assert top[0]["dist2"] > top[1]["dist2"] >= top[2]["dist2"]


def test_semantic_decontaminate_flags_planted_leak(spark, monkeypatch):
    """A corpus vector that IS a probe (plus noise too small to
    matter) must be flagged against that probe with ~1 similarity;
    orthogonal vectors must not be flagged."""
    import numpy as np

    rng = np.random.RandomState(7)
    probe = rng.randn(64).astype("float32")
    leak = (probe + 1e-3 * rng.randn(64).astype("float32"))
    rows = [(0, [float(x) for x in probe], 0),
            (100, [float(x) for x in leak], 0)]
    # orthogonal filler
    for i in range(101, 110):
        v = rng.randn(64).astype("float32")
        rows.append((i, [float(x) for x in v], 0))
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        monkeypatch.setattr(S, "SEMDECON_THRESHOLD", 0.95)
        monkeypatch.setattr(S, "SEMDECON_N_PROBES", 1)
        out = S.semantic_decontaminate(spark, td).collect()
    assert len(out) == 1
    assert out[0]["vec_id"] == 100
    assert out[0]["closest_probe"] == 0
    assert out[0]["similarity"] > 0.999


def test_pq_ann_ranks_exact_copy_first(spark, monkeypatch):
    """An exact copy of a probe quantizes to the probe's own nearest
    codes, so ADC must rank it above unrelated vectors."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    for i in range(16):  # codebook = vec_id < 16
        rows.append((i, [float(x) for x in rng.randn(64)], 0))
    probe0 = rows[0][1]          # probe set = vec_id < 10
    rows.append((100, list(probe0), 0))  # planted copy of probe 0
    for i in range(101, 140):
        rows.append((i, [float(x) for x in rng.randn(64)], 0))
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        monkeypatch.setattr(S, "PQ_N_PROBES", 1)
        monkeypatch.setattr(S, "PQ_TOP_K", 5)
        out = S.pq_ann_topk(spark, td).collect()
    byrank = sorted(out, key=lambda r: r["rank"])
    assert byrank[0]["b_id"] == 100, "exact copy must rank first"
    assert byrank[0]["dist9"] == 0, \
        "copy of a codebook vector quantizes losslessly -> ADC 0"


@pytest.mark.parametrize("vec_ids", [[], [20, 21, 22]])
def test_pq_ann_without_probe_rows_is_empty(spark, tmp_path, vec_ids):
    """An embeddings table with fewer than n_probes rows and no probe
    vec_id yields an empty, well-typed result (no ADC tables to
    build)."""
    rows = [(i, [float(i)] * 64, 0) for i in vec_ids]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = S.pq_ann_topk(spark, str(tmp_path))
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("a_id", "bigint"), ("b_id", "bigint"), ("rank", "int"),
        ("dist9", "bigint")]


def test_ann_recall_report_bounds(spark, sf_dir):
    """exact must self-score 1.0; approximate methods must return a
    recall in [0,1] over every probe (the report's sanity floor —
    method-specific quality is pinned by the per-method recall
    tests)."""
    rows = {r["method"]: r
            for r in S.ann_recall_report(spark, sf_dir).collect()}
    assert rows["exact"]["recall_at_k"] == 1.0
    for m, r in rows.items():
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["n_probes"] == rows["exact"]["n_probes"]


def test_embedding_pca_matches_direct_numpy(spark, sf_dir):
    """The distributed exact-integer covariance path must reproduce a
    direct numpy covariance+eigh of the collected matrix (up to the
    1e-4 quantization grid), and the implied whitening must actually
    whiten: W C W^T = I."""
    import numpy as np

    from simpleetlpipeline_spark.functions.similarity import (
        PCA_Q, embedding_pca_report)
    from simpleetlpipeline_spark.io import read_table

    got = embedding_pca_report(spark, sf_dir).collect()
    assert [r["component"] for r in got] == list(range(64))
    dist_evals = np.array([r["eigenvalue"] for r in got])

    m = np.stack([r["embedding"] for r in
                  read_table(spark, sf_dir, "embeddings")
                  .select("embedding").collect()]).astype("float64")
    q = np.floor(m * PCA_Q) / PCA_Q
    cov = np.cov(q, rowvar=False, bias=True)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    # eigenvalues agree to the report's 1e-6 floor plus grid slack
    assert np.allclose(dist_evals, evals, atol=5e-6)
    # cumulative ratio ends at ~1
    assert abs(got[-1]["cumulative_ratio"] - 1.0) < 1e-4

    # whitening property on the exact-integer covariance
    evals_f, evecs = np.linalg.eigh(cov)
    w = evecs @ np.diag(1.0 / np.sqrt(np.maximum(evals_f, 1e-12))) \
        @ evecs.T
    assert np.allclose(w @ cov @ w.T, np.eye(64), atol=1e-6)


def test_hybrid_rrf_plan_and_fusion_semantics(spark, sf_dir):
    """hybrid_rrf_search: (a) the dense leg broadcasts the single
    probe vector (no corpus-side shuffle for the cross score), (b)
    the fused output carries both legs' ranks with NULL for
    one-pool docs, (c) rrf_nano matches a hand-computed RRF on the
    returned rows."""
    import math

    from simpleetlpipeline_spark.functions.similarity import (
        HYBRID_RRF_K, hybrid_rrf_search)

    df = hybrid_rrf_search(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, "probe vector must broadcast"
    rows = df.collect()
    assert 0 < len(rows) <= 10
    got_null_leg = False
    for r in rows:
        legs = 0.0
        for rank in (r["r_lex"], r["r_vec"]):
            if rank is None:
                got_null_leg = True
            else:
                assert 1 <= rank <= 50
                legs += 1.0 / (HYBRID_RRF_K + float(rank))
        assert r["rrf_nano"] == math.floor(legs * 1e9)
    ranks = [r["rrf_nano"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)


def test_array_oracle_matches_fold_oracle(sf_dir):
    """The round-9 fast oracle kernel (DOUBLE[64] array_inner_product)
    must be bit-identical, AFTER the shared 4dp floor, to the
    in-order list_reduce fold the linear oracles still use — pair set
    AND floored similarity values."""
    import duckdb

    from simpleetlpipeline_spark.functions.similarity import (
        NEARDUP_THRESHOLD,
        _COS_ARR_SQL,
        _COS_SQL,
        _VECS_ARR_SQL,
        _VECS_SQL,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')")
    fold = con.execute(f"""
        WITH v AS ({_VECS_SQL})
        SELECT a.vec_id, b.vec_id, {_COS_SQL} AS s
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_COS_SQL} >= {NEARDUP_THRESHOLD}
        ORDER BY 1, 2""").fetchall()
    arr = con.execute(f"""
        WITH v AS ({_VECS_ARR_SQL})
        SELECT a.vec_id, b.vec_id, {_COS_ARR_SQL} AS s
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_COS_ARR_SQL} >= {NEARDUP_THRESHOLD}
        ORDER BY 1, 2""").fetchall()
    assert fold == arr and len(fold) > 0
