"""Planted-data tests for the pretraining-corpus operators
(functions/pretrain.py). Value-level parity with SQL is the DuckDB
oracle (tools/check_oracle.py); these pin the semantics the oracle
can't see failing-shaped inputs for: redaction rewrites, repetition
flags on crafted docs, pack straddling, and k-means separating
planted blobs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import simpleetlpipeline_spark.functions.pretrain as pt


DOC_SCHEMA = "doc_id long, text string, lang string, source string"


def _patch_docs(monkeypatch, spark, rows):
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    monkeypatch.setattr(pt, "read_table", lambda _s, _d, _n: df)


def test_redact_pii_counts_and_rewrites(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@corp.io or +555-123-4567 from 192.168.0.1 ok")],
        "doc_id long, text string")
    red, counts = pt.redact_pii(F.col("text"))
    row = df.select(red.alias("r"),
                    *[c.alias(f"n_{n}") for n, c in counts.items()]).first()
    assert (row["n_email"], row["n_phone"], row["n_ipv4"]) == (1, 1, 1)
    assert row["r"] == "mail [EMAIL] or [PHONE] from [IPV4] ok"


def test_redact_pii_clean_text_untouched(spark):
    df = spark.createDataFrame([(1, "plain words only")],
                               "doc_id long, text string")
    red, counts = pt.redact_pii(F.col("text"))
    row = df.select(red.alias("r"), sum(counts.values()).alias("n")).first()
    assert row["n"] == 0 and row["r"] == "plain words only"


def test_pii_redact_plants_on_schedule(spark, monkeypatch):
    # doc_ids 0..9: plants land on 3 (email), 6 (phone), 9 (ipv4)
    _patch_docs(monkeypatch, spark,
                [(i, "clean text here", "en", "web") for i in range(10)])
    out = {r["doc_id"]: r for r in pt.pii_redact(spark, "unused").collect()}
    assert {d for d, r in out.items() if r["n_pii"] == 1} == {3, 6, 9}
    assert out[3]["n_email"] == 1 and out[6]["n_phone"] == 1 \
        and out[9]["n_ipv4"] == 1
    # same clean text, same md5, except where a plant was redacted
    clean_md5 = {r["redacted_md5"] for d, r in out.items()
                 if d not in (3, 6, 9)}
    assert len(clean_md5) == 1
    assert all(out[d]["redacted_md5"] not in clean_md5 for d in (3, 6, 9))


def test_doc_repetition_flags_spam(spark, monkeypatch):
    _patch_docs(monkeypatch, spark, [
        (1, "buy now " * 20, "en", "web"),                # repetitive
        (2, "one two three four five six seven eight nine ten",
         "en", "web"),                                    # diverse
    ])
    out = {r["doc_id"]: r for r in
           pt.doc_repetition(spark, "unused").collect()}
    assert out[1]["repetitive"] and not out[2]["repetitive"]
    assert out[1]["type_token_ratio"] == pytest.approx(2 / 40, abs=1e-4)
    assert out[1]["top_token_frac"] == pytest.approx(0.5, abs=1e-4)
    # "buy now buy now ..." has only 2 distinct bigrams over 39 slots
    assert out[1]["dup_bigram_frac"] == pytest.approx(1 - 2 / 39, abs=1e-4)
    assert out[2]["dup_bigram_frac"] == 0.0 \
        and out[2]["type_token_ratio"] == 1.0


def test_sequence_pack_straddles_boundary(spark, monkeypatch):
    # ctx=256; three docs of 200 tokens: doc 2 spans packs 0->1,
    # doc 3 starts inside pack 1
    word = "tok "
    _patch_docs(monkeypatch, spark,
                [(i, (word * 200).strip(), "en", "web") for i in (1, 2, 3)])
    out = {r["doc_id"]: r for r in
           pt.sequence_pack(spark, "unused").collect()}
    assert (out[1]["start_offset"], out[1]["first_pack"],
            out[1]["last_pack"]) == (0, 0, 0)
    assert (out[2]["start_offset"], out[2]["first_pack"],
            out[2]["last_pack"]) == (200, 0, 1)
    assert (out[3]["start_offset"], out[3]["first_pack"],
            out[3]["last_pack"]) == (400, 1, 2)


def test_sequence_pack_shards_are_independent(spark, monkeypatch):
    rows = [(i, "a b c", "en", f"src{i % 2}") for i in range(6)]
    _patch_docs(monkeypatch, spark, rows)
    out = pt.sequence_pack(spark, "unused").collect()
    for src in ("src0", "src1"):
        offs = sorted(r["start_offset"] for r in out if r["source"] == src)
        assert offs == [0, 3, 6]


def test_source_mix_report_shares(spark, monkeypatch):
    _patch_docs(monkeypatch, spark, [
        (1, "a b c d", "en", "web"),      # 4 tokens
        (2, "a b c d", "en", "web"),      # 4 tokens
        (3, "a b", "es", "books"),        # 2 tokens
    ])
    out = {(r["source"], r["lang"]): r for r in
           pt.source_mix_report(spark, "unused").collect()}
    assert out[("web", "en")]["n_docs"] == 2
    assert out[("web", "en")]["token_share"] == pytest.approx(0.8)
    assert out[("books", "es")]["token_share"] == pytest.approx(0.2)


def test_kmeans_separates_planted_blobs(spark, monkeypatch):
    # two tight 4-dim blobs far apart; init picks one seed from each
    # (vec_ids 0 and 1 are in different blobs)
    rows = []
    for i in range(20):
        blob = i % 2
        base = 0.0 if blob == 0 else 100.0
        rows.append((i, [base + 0.01 * i, base, base, base], blob))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(pt, "read_table", lambda _s, _d, _n: df)
    monkeypatch.setattr(pt, "KMEANS_K", 2)
    monkeypatch.setattr(pt, "KMEANS_ITERS", 2)
    out = pt.kmeans_assign(spark, "unused").collect()
    clusters_by_blob = {}
    for r in out:
        clusters_by_blob.setdefault(r["label"], set()).add(r["cluster"])
    assert clusters_by_blob[0] == {0} and clusters_by_blob[1] == {1}


def test_kmeans_assignment_is_total_and_deterministic(spark, monkeypatch):
    rows = [(i, [float(i % 5), float((i * 3) % 7), 1.0], i % 3)
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(pt, "read_table", lambda _s, _d, _n: df)
    monkeypatch.setattr(pt, "KMEANS_K", 3)
    monkeypatch.setattr(pt, "KMEANS_ITERS", 2)
    a = sorted((r["vec_id"], r["cluster"]) for r in
               pt.kmeans_assign(spark, "unused").collect())
    b = sorted((r["vec_id"], r["cluster"]) for r in
               pt.kmeans_assign(spark, "unused").collect())
    assert a == b and len(a) == 30
    assert {c for _, c in a} <= {0, 1, 2}


def test_cluster_purity_planted_blobs(spark):
    """Two well-separated gaussian blobs with distinct labels must
    cluster at purity 1.0 overall."""
    import os
    import tempfile

    import numpy as np

    from simpleetlpipeline_spark.functions.pretrain import (
        kmeans_cluster_purity)

    rng = np.random.RandomState(3)
    rows = []
    for i in range(40):
        v = rng.randn(64) * 0.05 + (10.0 if i % 2 else -10.0)
        rows.append((i, [float(x) for x in v], i % 2))
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        out = kmeans_cluster_purity(spark, td).collect()
    nonempty = [r for r in out if r["cluster_size"] > 0]
    assert all(r["purity"] == 1.0 for r in nonempty)
    assert out[0]["overall_purity"] == 1.0
