"""Unit tests for the text/dedup function library (north-star ops).

Value-level correctness for the SQL-expressible ops is the DuckDB
oracle; these tests pin the algorithmic invariants of the
hash-based ops (minhash/simhash) that the oracle can't express.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simpleetlpipeline_spark.functions.dedup import (
    QUERIES as DEDUP_QUERIES,
    minhash_signature_col,
    simhash_col,
    word_ngrams_col,
)
from simpleetlpipeline_spark.functions.text import (
    QUERIES as TEXT_QUERIES,
    tokens_col,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngrams_sliding_window(spark):
    df = _docs(spark, [(1, "a b c d")])
    grams = df.select(word_ngrams_col(F.col("text"), 3).alias("g")).first()["g"]
    assert grams == ["a b c", "b c d"]


def test_word_ngrams_short_doc_single_gram(spark):
    df = _docs(spark, [(1, "a b")])
    grams = df.select(word_ngrams_col(F.col("text"), 3).alias("g")).first()["g"]
    assert grams == ["a b"]


def test_minhash_identical_texts_identical_signatures(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps"),
                       (2, "the quick brown fox jumps"),
                       (3, "utterly different content entirely here")])
    sigs = {
        r["doc_id"]: tuple(r["sig"])
        for r in df.select(
            "doc_id",
            minhash_signature_col(word_ngrams_col(F.col("text"))).alias("sig"),
        ).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    assert len(sigs[1]) == 32


def test_simhash_identical_zero_hamming_and_near(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " extra"
    far = "completely unrelated words about databases and distributed systems"
    df = _docs(spark, [(1, base), (2, base), (3, near), (4, far)])
    sh = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", simhash_col(tokens_col(F.col("text"))).alias("sh")
        ).collect()
    }
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert sh[1] == sh[2]
    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[4])


def test_simhash_udf_matches_column_impl(spark):
    """The numpy kernel must be bit-identical to the pure-column
    simhash (same getbit/majority-vote semantics)."""
    from simpleetlpipeline_spark.functions.dedup import simhash_from_hashes_udf

    rows = [(i, f"some text number {i} with shared words and tail{i % 3}")
            for i in range(20)]
    df = _docs(spark, rows)
    toks = tokens_col(F.col("text"))
    sim_udf = simhash_from_hashes_udf()
    out = df.select(
        simhash_col(toks).alias("col_impl"),
        sim_udf(F.transform(toks, lambda t: F.xxhash64(t))).alias("udf_impl"),
    ).collect()
    assert all(r["col_impl"] == r["udf_impl"] for r in out)


def test_dedup_exact_counts(spark, sf_dir):
    out = DEDUP_QUERIES["dedup_exact"](spark, sf_dir)
    from simpleetlpipeline_spark.io import read_table
    n_docs = read_table(spark, sf_dir, "documents").count()
    agg = out.agg(F.sum("n_copies").alias("s"), F.count("*").alias("g")).first()
    assert agg["s"] == n_docs
    assert agg["g"] <= n_docs


def test_minhash_lsh_finds_exact_dups(spark, monkeypatch):
    """Any pair of identical documents must surface as a candidate
    (identical signatures agree on every band) with jaccard 1.0."""
    from simpleetlpipeline_spark.functions import dedup as D
    import tempfile, os
    rows = [(i, f"unique document number {i} with filler words") for i in range(20)]
    rows.append((100, rows[0][1]))
    monkeypatch.setattr(D, "JACCARD_THRESHOLD", 0.9)
    with tempfile.TemporaryDirectory() as td:
        _docs(spark, rows).write.parquet(os.path.join(td, "documents.parquet"))
        out = D.dedup_minhash_lsh(spark, td).collect()
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in out}
    assert pairs.get((0, 100)) == 1.0


def test_minhash_lsh_duplicate_heavy_star_not_clique(spark, monkeypatch):
    """A duplicate-heavy corpus (the workload dedup exists for) must
    emit O(n) star edges for an n-copy group, never the C(n, 2)
    clique — the quadratic-blowup guard for hot documents. The star
    is rooted at the group-min doc and carries exact jaccard 1.0,
    and connected components over it equals the clique's closure."""
    from simpleetlpipeline_spark.functions import dedup as D
    import tempfile, os
    n = 2000
    rows = [(i, "the exact same duplicated document body repeated")
            for i in range(n)]
    rows += [(10_000 + i, f"totally distinct filler item {i} about "
                          f"topic{i} marker{i * 7} end{i * 13}")
             for i in range(20)]
    monkeypatch.setattr(D, "JACCARD_THRESHOLD", 0.9)
    with tempfile.TemporaryDirectory() as td:
        _docs(spark, rows).write.parquet(os.path.join(td, "documents.parquet"))
        out = D.dedup_minhash_lsh(spark, td).collect()
    grp = [r for r in out if r["b_id"] < 10_000]
    assert len(grp) == n - 1, "n-copy group must emit n-1 star edges"
    assert all(r["a_id"] == 0 and r["jaccard"] == 1.0 for r in grp)
    assert len(out) < n + 50, "no quadratic candidate blow-up"


def test_band_candidates_bucket_cap_bounds_hot_bucket(spark):
    """Identical signatures all land in one (band, bucket) key per
    band; membership capping must bound the self-join fan-out at
    C(BUCKET_CAP, 2) instead of C(n, 2)."""
    from simpleetlpipeline_spark.functions.dedup import (
        BUCKET_CAP, band_candidates)
    n = 3 * BUCKET_CAP
    sig = spark.createDataFrame(
        [(i, list(range(32))) for i in range(n)],
        "doc_id long, sig array<long>")
    got = band_candidates(sig).count()
    cap_pairs = BUCKET_CAP * (BUCKET_CAP - 1) // 2
    assert got == cap_pairs, f"expected C(cap,2)={cap_pairs}, got {got}"


def test_simhash_duplicate_heavy_star(spark):
    """Exact copies must collapse before band blocking and come back
    as jaccard-1.0 star edges on the group minimum, and coincidence
    candidates (unrelated short docs within hamming 10 by chance)
    must NOT survive the exact verify."""
    from simpleetlpipeline_spark.functions import dedup as D
    import tempfile, os
    n = 500
    rows = [(i, "same simhash heavy duplicate text body here")
            for i in range(n)]
    rows += [(10_000 + i, f"unrelated piece {i} with words{i * 3} "
                          f"suffix{i * 11}") for i in range(10)]
    with tempfile.TemporaryDirectory() as td:
        _docs(spark, rows).write.parquet(os.path.join(td, "documents.parquet"))
        out = D.dedup_simhash(spark, td).collect()
    grp = [r for r in out
           if r["a_id"] < 10_000 and r["b_id"] < 10_000]
    assert len(grp) == n - 1
    assert all(r["a_id"] == 0 and r["jaccard"] == 1.0 for r in grp)
    assert len(out) == n - 1, "no unverified coincidence pairs"


def test_simhash_banding_surfaces_planted_neardup(spark):
    """A true near-dup (one token changed) must survive the banding +
    hamming prune + exact-Jaccard verify with the string-gram value —
    the recall property the shared ground-truth oracle attests."""
    from simpleetlpipeline_spark.functions import dedup as D
    import math
    import tempfile, os
    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(1, base), (2, base + " phi")]
    rows += [(100 + i, f"distinct filler{i} tokens{i * 3} about{i * 7} "
                       f"thing{i * 11} end{i * 13}") for i in range(12)]
    with tempfile.TemporaryDirectory() as td:
        _docs(spark, rows).write.parquet(os.path.join(td, "documents.parquet"))
        out = {(r["a_id"], r["b_id"]): r["jaccard"]
               for r in D.dedup_simhash(spark, td).collect()}
    toks = base.split()
    ga = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    toks2 = (base + " phi").split()
    gb = {" ".join(toks2[i:i + 3]) for i in range(len(toks2) - 2)}
    want = math.floor(len(ga & gb) / len(ga | gb) * 10000) / 10000
    assert out.get((1, 2)) == want


def test_simhash_subset_of_ground_truth(spark, sf_dir):
    """dedup_simhash's exact-verified output must be a SUBSET of the
    ground-truth pair set (dedup_minhash_lsh, whose equality oracle
    attests it IS the ground truth on the fixtures) with identical
    exact-Jaccard values, and must carry every exact-duplicate star
    edge (identical texts share all four bands — banding cannot miss
    them). This is the honest invariant for an approximate method
    whose banding recall is measurably < 1 (222/249 at sf0.1, misses
    all band-caused); an equality oracle would assert recall simhash
    does not have."""
    from simpleetlpipeline_spark.functions import dedup as D

    truth = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in D.dedup_minhash_lsh(spark, sf_dir).collect()}
    got = {(r["a_id"], r["b_id"]): r["jaccard"]
           for r in D.dedup_simhash(spark, sf_dir).collect()}
    assert got, "fixture near-dups must surface"
    assert set(got) <= set(truth), "false positive vs exact verify"
    assert all(truth[p] == j for p, j in got.items())
    stars = {p for p, j in truth.items() if j == 1.0}
    assert stars <= set(got), "exact-duplicate star edges are guaranteed"


def test_lang_id_detects_markers(spark, sf_dir):
    out = TEXT_QUERIES["lang_id"](spark, sf_dir)
    dist = {r["detected_lang"] for r in out.collect()}
    assert dist <= {"en", "es", "fr", "de", "unknown"}


def test_doc_stats_bounds(spark, sf_dir):
    rows = TEXT_QUERIES["doc_stats"](spark, sf_dir).collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)
    assert all(r["n_tokens"] > 0 for r in rows)
    assert all(r["n_stopwords"] <= r["n_tokens"] for r in rows)


def test_tfidf_top_terms_invariants(spark, sf_dir):
    """Per doc: ranks are 1..n (n <= k), scores non-increasing with
    rank, and document frequency never exceeds the corpus size."""
    rows = TEXT_QUERIES["tfidf_top_terms"](spark, sf_dir).collect()
    n_docs = len({r["doc_id"] for r in rows})
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        assert all(rs[i]["tfidf"] >= rs[i + 1]["tfidf"]
                   for i in range(len(rs) - 1))
        assert all(r["doc_freq"] <= n_docs for r in rs)


@pytest.mark.parametrize("driver_threshold", [1_000_000, 0],
                         ids=["driver-union-find", "distributed-labelprop"])
def test_connected_components_planted_graph(spark, driver_threshold):
    """Two chains and a singleton edge: components must be labeled by
    their minimum node, regardless of edge direction or order — in
    BOTH regimes (driver union-find below the edge threshold,
    distributed label propagation above it)."""
    from simpleetlpipeline_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 11),      # component {3,5,9,11} -> 3
         (20, 21),                     # component {20,21}    -> 20
         (7, 2), (2, 1)],              # component {1,2,7}    -> 1
        "a_id long, b_id long")
    out = {r["node"]: r["component"]
           for r in connected_components(
               edges, driver_threshold=driver_threshold).collect()}
    assert out == {3: 3, 5: 3, 9: 3, 11: 3,
                   20: 20, 21: 20,
                   1: 1, 2: 1, 7: 1}


def test_dedup_clusters_merges_planted_dups(spark, monkeypatch):
    """Three copies of one doc + two of another -> two clusters with
    the minimum doc_id as canonical."""
    import os
    import tempfile

    from simpleetlpipeline_spark.functions import dedup as D
    from simpleetlpipeline_spark.functions.dedup import (
        dedup_cluster_frame,
        dedup_clusters,
    )

    rows = [(i, f"totally unique filler document {i} " * 3)
            for i in range(10)]
    rows += [(100, rows[0][1]), (101, rows[0][1]), (200, rows[1][1])]
    monkeypatch.setattr(D, "JACCARD_THRESHOLD", 0.9)
    with tempfile.TemporaryDirectory() as td:
        _docs(spark, rows).write.parquet(os.path.join(td, "documents.parquet"))
        out = {r["keep_doc_id"]: r for r in
               dedup_cluster_frame(spark, td).collect()}
        flat = {r["keep_doc_id"]: r for r in
                dedup_clusters(spark, td).collect()}
    assert out[0]["cluster_size"] == 3 and out[0]["members"] == [0, 100, 101]
    assert out[1]["cluster_size"] == 2 and out[1]["members"] == [1, 200]
    # catalog form: same clusters, members serialized for the gate
    assert flat[0]["members"] == "0,100,101"
    assert flat[1]["members"] == "1,200"


def test_cache_registry_releases_dedup_caches(spark, sf_dir):
    """After a clustering run, release_caches() must free everything
    the dedup family persisted (pair graph; component labels on the
    distributed path) and a second sweep must find nothing."""
    from simpleetlpipeline_spark import cache
    from simpleetlpipeline_spark.functions.dedup import dedup_clusters

    cache.release_caches()  # clean slate from other tests
    dedup_clusters(spark, sf_dir).collect()
    assert cache.release_caches() >= 1
    assert cache.release_caches() == 0
    # the VERDICT r1 done-criterion: nothing left pinned in executor
    # storage at the JVM level after a release sweep
    spark.catalog.clearCache()  # drop SQL-cache entries other tests own
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_decontaminate_planted_overlap(spark, monkeypatch):
    """A training doc copying a benchmark doc's text must be flagged;
    unrelated docs report zero overlap; benchmark docs themselves are
    excluded from the manifest."""
    import simpleetlpipeline_spark.functions.curation as cur

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (7, bench_text, "en", "web"),          # benchmark slice (7 % 20)
        (1, bench_text + " tail", "en", "web"),  # contaminated copy
        (2, "one two three four five six seven eight", "en", "web"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    monkeypatch.setattr(cur, "read_table", lambda _s, _d, _n: df)
    out = {r["doc_id"]: r for r in
           cur.decontaminate(spark, "unused").collect()}
    assert set(out) == {1, 2}, "benchmark docs excluded from manifest"
    # 8 tokens -> 4 distinct 5-grams, all shared by the copy
    assert out[1]["n_overlap"] == 4 and out[1]["contaminated"]
    assert out[2]["n_overlap"] == 0 and not out[2]["contaminated"]


def test_corpus_mix_sample_matches_ticket_arithmetic(spark, monkeypatch):
    """The kept set must equal the deterministic multiplicative-hash
    ticket rule exactly — reproducibility across engines/runs is the
    operator's contract."""
    import simpleetlpipeline_spark.functions.curation as cur

    rows = [(i, f"doc {i}", lang, "src")
            for i, lang in enumerate(
                ["en", "es", "zh", "en", "fr", "zh", "de", "en"] * 25)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    monkeypatch.setattr(cur, "read_table", lambda _s, _d, _n: df)
    got = {r["doc_id"] for r in
           cur.corpus_mix_sample(spark, "unused").collect()}
    want = {
        i for i, (_, _, lang, _) in enumerate(rows)
        if (i * cur._MIX_MULT) % 10000
        < cur.MIX_FRACTIONS.get(lang, cur.MIX_DEFAULT)
    }
    assert got == want and got  # non-empty and exact
    # 'en' fraction is 10000/10000 -> every en doc survives
    assert {i for i, r in enumerate(rows) if r[2] == "en"} <= got


def test_dedup_pairs_all_finds_planted_pair(spark, monkeypatch):
    """Near-identical docs pair up; the df-cap drops stop-shingles
    shared by everything without killing true pairs; clusters_exact
    groups the planted near-dups under the min doc_id."""
    import simpleetlpipeline_spark.functions.dedup as dd

    near = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, near, "en", "web"),
        (2, near + " phi", "en", "web"),           # near-dup of 1
        (3, "one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen", "en", "web"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    monkeypatch.setattr(dd, "read_table", lambda _s, _d, _n: df)
    pairs = dd.dedup_pairs_all(spark, "unused").collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(1, 2)}
    clusters = {r["keep_doc_id"]: r for r in
                dd.dedup_clusters_exact(spark, "unused").collect()}
    assert clusters[1]["cluster_size"] == 2
    assert clusters[1]["members"] == "1,2"


def test_ngram_jaccard_planted_pair_matches_string_oracle(spark,
                                                          monkeypatch):
    """Regression guard for the round-11 rolling-hash rewrite of
    dedup_ngram_jaccard: a planted near-dup of a PROBE doc (doc_id <
    n_probes) must surface with the exact word-3-gram Jaccard a
    string-gram computation gives — the sf-fixture sweep comparison
    is 0-rows-vs-0-rows, so without this a kernel regression that
    suppressed all pairs would still pass (round-11 advice)."""
    import simpleetlpipeline_spark.functions.dedup as dd

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lam mu")
    near = base + " nu xi"                       # shares most 3-grams
    rows = [(3, base, "en", "web"), (42, near, "en", "web")]
    rows += [(i, f"unrelated filler{i} words{i * 3} about{i * 7} "
                 f"topic{i * 11} end{i * 13}", "en", "web")
             for i in (0, 1, 2, 4, 5, 6, 50, 51)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    monkeypatch.setattr(dd, "read_table", lambda _s, _d, _n: df)
    out = {(r["a_id"], r["b_id"]): r
           for r in dd.dedup_ngram_jaccard(spark, "unused").collect()}
    assert out, "planted near-dup must produce a nonzero pair set"

    def grams(text):
        toks = text.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    import math
    ga, gb = grams(base), grams(near)
    n_common = len(ga & gb)
    want_jac = math.floor(n_common / len(ga | gb) * 10000) / 10000
    got = out[(3, 42)]
    assert got["n_common"] == n_common
    assert got["jaccard"] == want_jac
    assert set(out) == {(3, 42)}, "filler docs must not pair"


def test_dedup_pairs_all_df_cap_drops_stop_shingles(spark, monkeypatch):
    """A shingle present in > DF_CAP docs must not generate pairs."""
    import simpleetlpipeline_spark.functions.dedup as dd

    # every doc shares the same 3 tokens -> one universal shingle;
    # with DF_CAP=2 and 4 docs it is dropped, so no pairs survive
    rows = [(i, f"common shingle here unique{i} tail{i} end{i}",
             "en", "web") for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    monkeypatch.setattr(dd, "read_table", lambda _s, _d, _n: df)
    monkeypatch.setattr(dd, "DF_CAP", 2)
    assert dd.dedup_pairs_all(spark, "unused").count() == 0


def test_bigram_logprob_scores_phrases_above_gibberish(spark, monkeypatch):
    """A document made of the corpus's dominant bigram must outscore
    a shuffled-token document whose unigrams are identical — the
    separation the bigram model exists to add over doc_logprob."""
    import os
    import tempfile

    from simpleetlpipeline_spark.functions import text as T

    docs = [(i, "alpha beta alpha beta alpha beta", "en", "s", 30)
            for i in range(5)]
    docs.append((99, "beta beta alpha alpha beta alpha", "en", "s", 30))
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = {r["doc_id"]: r["mean_logprob"]
               for r in T.bigram_doc_logprob(spark, td).collect()}
    assert out[0] > out[99], "phrase doc must outscore shuffled doc"
    assert all(out[i] == out[0] for i in range(5))


def test_compression_quality_orders_text_classes(spark):
    """The signal's reason to exist: looped boilerplate compresses
    below varied text, which compresses below incompressible
    noise."""
    import os
    import random
    import string
    import tempfile

    from simpleetlpipeline_spark.functions.text import compression_quality

    rng = random.Random(5)
    loop = "spam ham " * 200
    varied = " ".join(rng.choice(["alpha", "beta", "gamma", "delta",
                                  "epsilon", "zeta"]) for _ in range(400))
    noise = "".join(rng.choice(string.ascii_letters + string.digits)
                    for _ in range(1600))
    rows = [(0, loop, "en", "s", len(loop)),
            (1, varied, "en", "s", len(varied)),
            (2, noise, "en", "s", len(noise))]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = {r["doc_id"]: r["compression_ratio"]
               for r in compression_quality(spark, td).collect()}
    assert out[0] < out[1] < out[2]
    assert out[2] > 0.7, "random noise must stay near-incompressible"


def test_segment_dedup_first_occurrence_wins(spark, tmp_path, monkeypatch):
    """C4-style paragraph dedup: a 3-token segment repeated across
    docs survives only at its first (doc_id, seg_idx) occurrence;
    the rebuilt text drops later copies, and a fully-duplicated doc
    rebuilds to the empty string."""
    import hashlib

    from simpleetlpipeline_spark.functions import dedup as D
    from simpleetlpipeline_spark.functions.dedup import segment_dedup

    docs = _docs(spark, [
        (1, "a b c d e f"),      # both segments first occurrences
        (2, "x y z a b c"),      # "a b c" already seen in doc 1
        (3, "a b c"),            # fully duplicated -> empty rebuild
    ])
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(D, "SEGMENT_LEN", 3)
    out = {r["doc_id"]: r for r in
           segment_dedup(spark, str(tmp_path)).collect()}
    assert (out[1]["n_segments"], out[1]["n_kept"]) == (2, 2)
    assert (out[2]["n_segments"], out[2]["n_kept"]) == (2, 1)
    assert (out[3]["n_segments"], out[3]["n_kept"]) == (1, 0)
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1]["kept_text_md5"] == md5("a b c d e f")
    assert out[2]["kept_text_md5"] == md5("x y z")
    assert out[3]["kept_text_md5"] == md5("")


def test_minhash_incremental_equals_full_batch_slice(spark, sf_dir):
    """The incremental LSH maintenance contract: its pair graph must
    EQUAL the full dedup_minhash_lsh run restricted to pairs touching
    a batch document (doc_id % INCR_MOD == 0) — same band keys, same
    caps, same exact verify, no base-x-base rescoring. Run on the
    real sf0.001 corpus plus on a synthetic near-dup fixture where
    cross-split near-dup pairs are guaranteed to exist."""
    import os
    import tempfile

    from simpleetlpipeline_spark.functions import dedup as D

    def norm(df):
        return {(r["a_id"], r["b_id"], r["jaccard"])
                for r in df.collect()}

    full = norm(D.dedup_minhash_lsh(spark, sf_dir))
    full_slice = {(a, b, j) for a, b, j in full
                  if a % D.INCR_MOD == 0 or b % D.INCR_MOD == 0}
    incr = norm(D.dedup_minhash_incremental(spark, sf_dir))
    assert incr == full_slice

    base_text = ("alpha beta gamma delta epsilon zeta eta theta "
                 "iota kappa lambda mu nu xi omicron pi rho sigma")
    rows = []
    for i in range(12):
        # doc 5i and 5i+1 share a long prefix -> near-dups across
        # the batch/base split (5i is batch, 5i+1 is base)
        rows.append((5 * i, base_text + f" variant{i}"))
        rows.append((5 * i + 1, base_text + f" other{i}"))
        rows.append((5 * i + 2, f"completely different text {i} "
                                f"about subject{i * 7} thing{i * 13} "
                                f"and more unrelated filler {i}"))
    with tempfile.TemporaryDirectory() as td:
        _docs(spark, rows).write.parquet(
            os.path.join(td, "documents.parquet"))
        f2 = norm(D.dedup_minhash_lsh(spark, td))
        f2_slice = {(a, b, j) for a, b, j in f2
                    if a % D.INCR_MOD == 0 or b % D.INCR_MOD == 0}
        i2 = norm(D.dedup_minhash_incremental(spark, td))
    assert i2 == f2_slice
    assert len(i2) >= 12, "cross-split near-dups must be found"
    # and at least one base-x-base pair exists in full but NOT in the
    # incremental slice (the work the incremental run correctly skips)
    assert f2 - f2_slice, "fixture must exercise the skipped tier"


def test_bpe_train_merges_matches_python(spark, sf_dir):
    """From-scratch pure-Python BPE trainer on the same corpus must
    produce the identical merge table (rank, pair, merged, freq) —
    the rows-only iterative loop's independent implementation."""
    import collections
    import re

    import pandas as pd

    from simpleetlpipeline_spark.functions.text import (
        BPE_TRAIN_ROUNDS,
        bpe_train_merges,
    )

    got = [tuple(r) for r in bpe_train_merges(spark, sf_dir).collect()]

    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    freq = collections.Counter()
    for text in pdf["text"]:
        for w in re.split(r"\s+", str(text).strip().lower()):
            if w:
                freq[w] += 1
    vocab = {w: list(w) for w in freq}
    want = []
    for rank in range(1, BPE_TRAIN_ROUNDS + 1):
        pf = collections.Counter()
        for w, sym in vocab.items():
            for i in range(len(sym) - 1):
                pf[(sym[i], sym[i + 1])] += freq[w]
        if not pf:
            break
        (a, b), n = min(pf.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, a, b, a + b, n))
        for w, sym in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            vocab[w] = out
    assert got == want


def test_parameterized_oracle_parity(spark, sf_dir, monkeypatch):
    """ADVICE r7: Spark-side tuning constants (GAINS_N_BINS,
    SEQ_ENTROPY_MIN_N, SEQ_ENTROPY_TOP_N) must stay parity-checkable
    at NON-default values — the static ORACLE_SQL strings pin the
    import-time values, and these builder twins prove both sides
    read the same constants, so a retuned constant cannot silently
    diverge."""
    import duckdb

    from simpleetlpipeline_spark.functions import pretrain
    from simpleetlpipeline_spark.functions.pretrain import (
        calibration_oracle, calibration_reliability, gains_lift_oracle,
        gains_lift_table)
    from simpleetlpipeline_spark.plans import advanced
    from simpleetlpipeline_spark.plans.advanced import (
        user_sequence_entropy, user_sequence_entropy_oracle)

    con = duckdb.connect()
    for t in ("orders", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    # each frame's plan and SQL are fixed when built, so a constant
    # only has to hold while its pair is built
    cases = []
    monkeypatch.setattr(pretrain, "GAINS_N_BINS", 4)
    cases.append((gains_lift_table(spark, sf_dir), gains_lift_oracle()))
    monkeypatch.setattr(pretrain, "GAINS_N_BINS", 3)
    cases.append((calibration_reliability(spark, sf_dir),
                  calibration_oracle()))
    monkeypatch.setattr(advanced, "SEQ_ENTROPY_MIN_N", 5)
    monkeypatch.setattr(advanced, "SEQ_ENTROPY_TOP_N", 7)
    cases.append((user_sequence_entropy(spark, sf_dir),
                  user_sequence_entropy_oracle()))
    for sdf, sql in cases:
        srows = sorted(tuple(r) for r in sdf.collect())
        drows = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert sorted(sdf.columns) == sorted(
            d[0] for d in con.execute(sql).description)
        assert len(srows) == len(drows) and srows, sql
        for rs, rd in zip(srows, drows):
            assert [str(v) for v in rs] == [str(v) for v in rd]


def test_doc_token_profile_matches_narrow_operators(spark, sf_dir):
    """Cross-implementation parity: the explode+codegen-agg profile
    (round 10's scale path) must agree exactly with the narrow
    column-expression operators it replaces in corpus pipelines —
    doc_stats quality arithmetic and lang_id's argmax — on every
    document. Any drift between the two evaluation strategies
    (HOF filter counts vs IN-set aggregation) is a correctness bug,
    not a perf trade."""
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.functions.text import (
        doc_stats,
        doc_token_profile,
        lang_id,
    )
    from simpleetlpipeline_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    prof = {r["doc_id"]: r for r in doc_token_profile(
        docs, extra={"md5_fingerprint":
                     F.md5(F.col("text").cast("binary"))}).collect()}
    stats = {r["doc_id"]: r for r in doc_stats(spark, sf_dir).collect()}
    langs = {r["doc_id"]: r for r in lang_id(spark, sf_dir).collect()}
    md5s = {r["doc_id"]: r["md5_fingerprint"]
            for r in docs.select(
                "doc_id",
                F.md5(F.col("text").cast("binary"))
                .alias("md5_fingerprint")).collect()}

    assert set(prof) == set(stats) == set(langs)
    for did, p in prof.items():
        assert p["n_tokens"] == stats[did]["n_tokens"]
        assert p["n_stopwords"] == stats[did]["n_stopwords"]
        assert p["quality_score"] == stats[did]["quality_score"]
        assert p["detected_lang"] == langs[did]["detected_lang"]
        assert p["md5_fingerprint"] == md5s[did]
