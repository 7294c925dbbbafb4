"""Deduplication operators over the documents table.

Four tiers, each with a different cost/recall point — the standard
large-corpus dedup toolbox:

- exact:       hash-groupBy on the text (one shuffle of (hash, id)).
- ngram-jaccard (probe-blocked): EXACT n-gram-set Jaccard of the
  corpus against a small probe set. All-pairs exact Jaccard via a
  shingle equi-join explodes quadratically on repetitive corpora
  (verified on the testdata: ~1B candidate pairs at sf0.1), so the
  exact form is only exposed blocked-by-probe; unblocked near-dup
  detection is what MinHash/SimHash are for.
- minhash-LSH: seeded xxhash64 minhash signatures -> banding ->
  candidate pairs from band-bucket join -> EXACT Jaccard verify of
  candidates only. Linear shuffle in corpus size, tunable recall
  via (bands, rows-per-band). Own implementation on DataFrame
  higher-order functions (deterministic, no spark.ml model state).
- simhash:     64-bit simhash over tokens, Hamming-distance blocking
  via band equality — near-constant per-doc cost.

Embedding-space near-dup (cosine) lives in similarity.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simpleetlpipeline_spark.cache import shared, track
from simpleetlpipeline_spark.io import driver_rows_df, fan_out, read_table
from simpleetlpipeline_spark.operators.aggregates import ordered_pairs

# MinHash parameters: 32 hash functions = 8 bands x 4 rows.
# P(candidate | jaccard=s) = 1 - (1 - s^4)^8  — ~0.97 at s=0.8,
# ~0.03 at s=0.2.
MINHASH_K = 32
MINHASH_BANDS = 8
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS
MINHASH_SEED = 42

# Word-gram Jaccard family: gram width, the probe set of the blocked
# exact form (doc_id < N_PROBES), and the pair threshold every tier
# and its oracle share.
NGRAM = 3
N_PROBES = 10
JACCARD_THRESHOLD = 0.15
SIMHASH_MAX_HAMMING = 10
OVERLAP_NGRAM = 5


def word_ngrams_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text.

    Built entirely from higher-order array functions (JVM-side).
    Round-9 rewrite: the old form sliced the token array inside a
    transform(sequence(...)) lambda, and HOF lambdas are interpreted
    with no subexpression sharing — every window re-ran the full
    split() of the text, O(n_tokens x text_len) per document (the
    same blowup class as text.adjacent_pairs_col; at sf1 it owned
    the n-gram dedup family's tail). The zip_with chain evaluates
    each shifted slice ONCE per row: gram i = concat of
    heads_0[i..], heads_1[i], ..., heads_{n-1}[i].

    Short-doc semantics preserved exactly: documents with fewer
    than n tokens still yield their single partial gram (zip_with
    pads the shorter side with NULL and concat_ws skips NULLs,
    exactly like the old truncated slice)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    m = F.greatest(F.size(toks) - n, F.lit(0)) + F.lit(1)
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, 1 + j, m),
            lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(grams)


def word_ngram_hashes_col(text: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles — the scale
    form of word_ngrams_col.

    Materializing each shingle as a string costs O(n) string
    slice+concat per gram (measured 5s for 5k docs); instead, hash
    every token once JVM-side, then chain-combine n consecutive
    token hashes with xxhash64 via zip_with over shifted arrays —
    O(tokens) arithmetic, no string building. Gram-hash equality
    coincides with gram-string equality (modulo 2^-64 collisions),
    so Jaccard counts are unchanged.
    """
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    hs = F.transform(toks, lambda t: F.xxhash64(t))
    g = hs
    for j in range(1, n):
        shifted = F.slice(hs, j + 1, F.greatest(F.size(hs) - j, F.lit(1)))
        # xxhash64 silently skips null args, so guard explicitly:
        # past-the-end zip positions must yield null, not a hash.
        g = F.zip_with(
            g, shifted,
            lambda a, b: F.when(a.isNull() | b.isNull(),
                                F.lit(None)).otherwise(F.xxhash64(a, b)))
    grams = F.filter(g, lambda x: x.isNotNull())
    # Short docs (< n tokens) fall back to one whole-doc gram,
    # mirroring word_ngrams_col / the SQL oracle's slice semantics.
    whole = F.array(F.aggregate(
        hs, F.xxhash64(F.lit(0)), lambda acc, h: F.xxhash64(acc, h)))
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(whole))


def minhash_signature_col(shingles: Column, k: int = MINHASH_K,
                          seed: int = MINHASH_SEED) -> Column:
    """k-wide MinHash signature: per hash function i, the minimum of
    xxhash64(shingle, seed+i) over the shingle set. Deterministic
    across runs/partitionings; no fitted model state.
    """
    return F.array(*[
        F.array_min(F.transform(
            shingles, lambda s, i=i: F.xxhash64(s, F.lit(seed + i))))
        for i in range(k)
    ])


def minhash_from_gram_hashes_udf(k: int = MINHASH_K, seed: int = MINHASH_SEED):
    """Arrow-vectorized MinHash signatures from gram-hash arrays.

    The pure-column form (k transforms over the gram array per row)
    evaluates k*|grams| interpreted expressions per document; here a
    single numpy matrix op per batch applies k universal hash
    functions h_i(g) = (a_i*g + b_i) mod p over the 32-bit-folded
    gram hashes (products stay < 2^62, no overflow). Seeded
    RandomState keeps (a_i, b_i) deterministic across runs and
    executors.
    """
    from pyspark.sql.functions import pandas_udf

    p = np.uint64((1 << 31) - 1)
    rng = np.random.RandomState(seed)
    a = rng.randint(1, int(p), size=k).astype(np.uint64)
    b = rng.randint(0, int(p), size=k).astype(np.uint64)

    @pandas_udf("array<bigint>")
    def _mh(gr: pd.Series) -> pd.Series:
        out = []
        for arr in gr:
            h = (np.asarray(arr, dtype=np.int64).view(np.uint64)
                 & np.uint64(0x7FFFFFFF))
            if h.size == 0:
                out.append(np.zeros(k, dtype=np.int64))
                continue
            sig = ((a[:, None] * h[None, :] + b[:, None]) % p).min(axis=1)
            out.append(sig.astype(np.int64))
        return pd.Series(out)

    return _mh


def simhash_from_hashes_udf():
    """Arrow-vectorized simhash kernel over token-hash arrays.

    Bit-identical to simhash_col (bit i of output = majority vote of
    bit i across xxhash64(token)), but ~10x faster: higher-order
    column functions are interpreted per element, while this unpacks
    bits and votes with numpy inside a pandas_udf batch. Token
    hashing stays JVM-side (F.transform + xxhash64); only the
    64-bit vote fold crosses into Python, as Arrow batches.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(hs: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(hs), dtype=np.int64)
        for i, arr in enumerate(hs):
            a = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if a.size == 0:
                continue
            bits = (a[:, None] >> shifts) & np.uint64(1)
            votes = bits.sum(axis=0, dtype=np.int64)
            sim = (votes * 2 > a.size).astype(np.uint64)
            out[i] = (sim << shifts).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return _simhash


def simhash_col(tokens: Column, bits: int = 64) -> Column:
    """64-bit SimHash over a token array, via bit-vote aggregation.

    Single pass over the tokens: one aggregate() folds each token's
    64 hash bits into a vote array (zip_with), then bit b of the
    output is set iff votes[b] wins the majority (2*ones > n).
    Assembling the long via per-bit shiftleft terms (distinct bit
    patterns, so plain addition == bitwise OR) keeps bit 63 legal
    under ANSI arithmetic — any *2-style accumulation would overflow.
    """
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        F.transform(tokens, lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(idx, lambda i: F.getbit(h, i).cast("int")),
            lambda a, one: a + one,
        ),
    )
    n = F.size(tokens)
    out = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.element_at(votes, b + 1)
        out = out + F.when(
            ones * 2 > n, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return out


# --- Catalog queries -------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical doc per distinct text + copy count.
    One hash aggregate; at 100 TB you'd group on md5(text) instead of
    the full text to shrink the shuffle key — both shown here by
    grouping on the fingerprint and keeping min(doc_id) as canonical.
    """
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-NGRAM Jaccard of every document against a small
    probe set (doc_id < N_PROBES), pairs at or above
    JACCARD_THRESHOLD.

    Probe-blocked by design: the probe side is broadcast (and its
    doc_id filter pushes below the gram compute, so probe grams cost
    10 docs, not the corpus), so cost is linear in corpus size.
    Shingle explode -> equi-join on shingle -> per-pair common count
    -> |A∩B| / (|A|+|B|-|A∩B|).

    One gram evaluation per side (round 10): the gram-set sizes ride
    the explode as GROUP KEYS instead of a separate `sizes` frame
    joined back — the former b_n join re-ran the whole corpus gram
    chain (the chained-HOF hashing is the expensive term) and added
    a corpus-scale join just to fetch an int. n_grams is computed in
    the projection BELOW the Generate so it can't be re-planned
    per-exploded-row.

    Round 11: gram hashing moved to the Arrow-vectorized rolling
    kernel (rolling_window_hashes_udf) — the chained zip_with form
    costs NGRAM interpreted per-token passes over the whole corpus
    and was this query's dominant linear term at sf1. One
    interpreted pass (per-token xxhash64) remains; the window
    combine and per-doc distinct run vectorized in numpy. Gram-hash
    equality still coincides with gram-string equality modulo 2^-64
    (different hash family, same contract — only equality and
    distinct counts are consumed, and probe/corpus share the
    family), so the string-gram DuckDB oracle is unchanged."""
    roll = rolling_window_hashes_udf(NGRAM)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    pre = fan_out(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        roll(F.transform(toks, lambda t: F.xxhash64(t))).alias("grams"))
    # coalesce is a no-op at runtime (_roll never returns null) but
    # folds the downstream-inferred isnotnull(size(grams)) constraint
    # to TRUE — without it that constraint is pushed below the
    # fan_out exchange, where evaluating it re-runs the Arrow kernel
    # (guide §4.4's duplicate-evaluation problem, third spelling).
    pre = pre.select(
        "doc_id", "grams",
        F.coalesce(F.size("grams"), F.lit(0)).alias("n_grams"))

    # explode_outer + null filter rather than explode: the implicit
    # size>0 generate filter would be pushed below the fan_out
    # exchange and re-run the Arrow kernel there (guide §4.4 — same
    # fix as dedup_shared_windows; two ArrowEvalPython nodes per
    # subtree collapse to one).
    corpus = (pre.select(
        F.col("doc_id").alias("b_id"), F.col("n_grams").alias("b_n"),
        F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull()))
    probes = (
        pre.filter(F.col("doc_id") < N_PROBES)
        .select(F.col("doc_id").alias("a_id"),
                F.col("n_grams").alias("a_n"),
                F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    common = (
        corpus.join(F.broadcast(probes), "g")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "a_n", "b_n")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("a_n") + F.col("b_n") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.floor(jac * 10000) / 10000)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "n_common", "jaccard")
    )


#: Bucket-membership cap for the seeded-hash LSH families (MinHash,
#: SimHash; the SRP embedding families carry their own constant).
#: Band-bucket keys are uniformly distributed over DISTINCT contents,
#: but a near-identical flood (thousands of slightly-varied copies of
#: one template — exactly what dedup exists to find) lands in ONE
#: (band, bucket) key and the candidate self-join would emit C(n, 2)
#: pairs on one reducer. Capping membership at the BUCKET_CAP smallest
#: ids bounds the fan-out at C(BUCKET_CAP, 2) per bucket — the analog
#: of DF_CAP stop-shingles for the exact path. Recall trade-off:
#: members beyond the cap lose candidacy IN THAT BUCKET (they still
#: get MINHASH_BANDS other chances, and the capped survivor set is
#: identical across bands by construction, so a capped mega-cluster
#: still surfaces as a C(cap, 2) core that connected components can
#: grow from). EXACT duplicates never reach this cap: they are
#: collapsed to one representative per distinct text upstream
#: (dedup_minhash_lsh / dedup_simhash) and re-expanded as star pairs.
BUCKET_CAP = 100


def cap_bucket_members(df: DataFrame, key_cols: list,
                       id_col: str, cap: int) -> DataFrame:
    """Keep at most `cap` members per bucket key — the `cap` smallest
    ids, so the survivor set is deterministic across runs and
    partitionings (no sampling, no hash tie-breaks).

    row_number over (bucket key, order by id) rather than a grouped
    collect_list+slice: the window sorter streams and SPILLS a hot
    bucket instead of materializing an unbounded array in one
    aggregation buffer, and the window's hash partitioning on the
    bucket key is exactly the partitioning the downstream candidate
    self-join needs, so the exchange is reused, not added.
    """
    if cap is None:
        return df
    w = Window.partitionBy(*key_cols).orderBy(F.asc(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def collapse_exact_groups(df: DataFrame, id_col: str,
                          content_col: str) -> DataFrame:
    """One representative row per distinct content: (id, content,
    fp, n_copies) where id is the group MINIMUM.

    The exact-duplicate collapse that keeps LSH linear on
    duplicate-heavy corpora: identical contents have identical
    signatures, so without this every copy of a hot document lands in
    the same (band, bucket) key in EVERY band and the candidate
    self-join goes quadratic in the copy count. Grouping on the
    64-bit content fingerprint is one hash aggregate with map-side
    combine (duplicate-heavy corpora collapse before the shuffle);
    min(struct(id, content)) keeps the representative's id and
    content paired even under a 2^-64 fingerprint collision.
    """
    return (
        df.groupBy(F.xxhash64(content_col).alias("fp"))
        .agg(
            F.min(F.struct(F.col(id_col), F.col(content_col))).alias("rep"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.col(f"rep.{id_col}").alias(id_col),
            F.col(f"rep.{content_col}").alias(content_col),
            "fp", "n_copies",
        )
    )


def star_pairs(df: DataFrame, groups: DataFrame, id_col: str,
               content_col: str) -> DataFrame:
    """(a_id, b_id) star edges for every exact-duplicate group:
    group-min representative -> each other member.

    The star replaces the clique: a group of n exact copies emits
    n - 1 edges instead of C(n, 2), and connected components over
    star edges yields IDENTICAL clusters (the representative is
    reachable from every member). Cross-group near-dup edges connect
    representatives, so the closure over (star + representative
    pairs) equals the closure over all-pairs. The join is an
    equi-join on the 64-bit fingerprint; only groups with n_copies>1
    participate, so on a mostly-distinct corpus the build side is
    tiny (AQE broadcasts it).

    `groups` only needs (id_col, fp, n_copies) — callers pass their
    already-persisted narrow frame carrying those columns so the
    dup-rep side reads from cache instead of re-running the
    exact-collapse subtree (round 12)."""
    dup_reps = (groups.filter(F.col("n_copies") > 1)
                .select("fp", F.col(id_col).alias("a_id")))
    return (
        df.select(F.xxhash64(content_col).alias("fp"),
                  F.col(id_col).alias("b_id"))
        .join(dup_reps, "fp")
        .filter(F.col("b_id") != F.col("a_id"))
        .select("a_id", "b_id")
    )


def _band_postings(sig: DataFrame) -> DataFrame:
    """The MinHash banding both LSH runs share: each signature's
    MINHASH_BANDS (band, bucket) keys, bucket membership capped at
    BUCKET_CAP, then one sorted posting array `m` per (band, bucket)
    with at least two members. dedup_minhash_incremental's recall
    equivalence with dedup_minhash_lsh rests on both calling this."""
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.concat_ws(
                    ",", *[F.element_at("sig", b * MINHASH_ROWS + r + 1)
                           for r in range(MINHASH_ROWS)])).alias("bucket"),
            )
            for b in range(MINHASH_BANDS)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    bands = cap_bucket_members(bands, ["band", "bucket"], "doc_id",
                               BUCKET_CAP)
    return (
        bands.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("m"))
        .filter(F.size("m") >= 2)
    )


def band_candidates(sig: DataFrame) -> DataFrame:
    """Candidate pairs from banded LSH: explode each signature into
    (band, bucket) keys, cap bucket membership, enumerate pairs
    IN-ARRAY per bucket posting list, distinct pairs.

    Round 12 (guide §2.4): pair generation was a self-equi-join of
    the capped band frame with itself — Catalyst cannot share a
    subtree across a self-join's two sides, so the signature UDF,
    band explode and cap window ran TWICE (once per side; the second
    as a racing broadcast-thread job). Now the capped members
    aggregate into ONE sorted posting array per (band, bucket) —
    reusing the cap window's own hash partitioning, so no new
    exchange — and pairs enumerate in-array with ordered_pairs
    (a < b by the sort). Same pair set, one signature pass, and the
    only wide ops left are the band-key exchange and the final
    distinct. The membership cap (see BUCKET_CAP) bounds both the
    posting array (spill-safe: the window caps BEFORE the collect,
    so no aggregation buffer ever holds more than BUCKET_CAP ids)
    and the per-bucket fan-out at C(BUCKET_CAP, 2), so a
    near-identical flood cannot go quadratic on one reducer.
    """
    pairs = ordered_pairs(
        F.col("m"), lambda a, b: F.struct(a.alias("a_id"), b.alias("b_id")))
    return (
        _band_postings(sig).select(F.explode(pairs).alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct()
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pipeline with exact verify.

    exact-fingerprint collapse -> shingle -> 32-hash minhash
    signature -> 8 band keys -> capped self-join on (band index, band
    hash) -> distinct candidate pairs -> exact Jaccard on candidates
    only -> filter by JACCARD_THRESHOLD -> union the exact-duplicate
    stars.

    Duplicate-skew safety (the 100 TB story): exact copies are
    collapsed to one representative per distinct text BEFORE any
    signature work, so a corpus that is 90% copies of hot documents
    shrinks 10x map-side and cannot flood a band bucket; within-group
    pairs come back as star edges (group min -> member, jaccard 1.0
    — texts are identical, so this IS the exact value), which keeps
    the connected-components closure (dedup_clusters) identical to
    the clique while emitting n-1 rows per group instead of C(n, 2).
    Residual near-identical (non-exact) skew is bounded by the
    BUCKET_CAP membership cap inside band_candidates. The remaining
    wide ops — fingerprint collapse, band self-join, candidate verify
    — are all linear in DISTINCT corpus size.
    Deterministic: seeded xxhash64, no sampled projection matrices.

    Hash-oracled since round 11: because candidates are verified
    with EXACT Jaccard, the output equals the full ground-truth
    >=JACCARD_THRESHOLD pair set whenever banding recall is perfect — which
    DuckDB recomputes exactly via shared-gram blocking
    (_MINHASH_PAIRS_SQL below), so the gate attests recall itself.

    The verified pair graph is tiny (near-dup pairs are rare by
    construction) and has three catalog consumers — this query,
    dedup_clusters and corpus_curate_neardup — so it is one shared
    frame: the shingle/signature/verify pipeline runs once per
    session instead of once per consumer.
    """
    return shared(spark, ("minhash_lsh", sf_dir, JACCARD_THRESHOLD),
                  lambda: _minhash_lsh_pairs(spark, sf_dir))


def _minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    minhash = minhash_from_gram_hashes_udf()
    raw = fan_out(read_table(spark, sf_dir, "documents"))
    groups = collapse_exact_groups(raw, "doc_id", "text")
    # The shingled view is read FOUR times (signature build, both
    # sides of the exact verify, and the star join's dup-rep side);
    # persist it so the gram computation — and, round 12, the
    # exact-collapse shuffle feeding it — runs once. fp/n_copies ride
    # along (16 bytes/row) so star_pairs reads its dup reps from this
    # cache instead of re-running the whole collapse subtree (scan +
    # groupBy(text) exchange) a second time. MEMORY_AND_DISK: gram
    # arrays spill instead of OOM at large corpus sizes.
    docs = groups.select(
        "doc_id", word_ngram_hashes_col(F.col("text")).alias("grams"),
        "fp", "n_copies")
    docs = docs.persist()
    star = star_pairs(raw, docs, "doc_id", "text").withColumn(
        "jaccard", F.lit(1.0))
    sig = docs.select("doc_id", "grams", minhash("grams").alias("sig"))

    return _verified_pairs(band_candidates(sig), docs, star)


def _verified_pairs(candidates: DataFrame, docs: DataFrame,
                    star: DataFrame) -> DataFrame:
    """The published near-dup pair graph of an LSH pipeline: each
    (a_id, b_id) candidate verified by exact Jaccard over the
    persisted (doc_id, grams) cache `docs`, floored at 4dp and kept
    at >= JACCARD_THRESHOLD, plus the exact-duplicate `star` edges.

    Materializing the pair graph eagerly (persist + count) lets the
    corpus-sized gram cache be released immediately — the pair graph
    is the only thing the consumers still need."""
    a = docs.select(F.col("doc_id").alias("a_id"), F.col("grams").alias("a_g"))
    b = docs.select(F.col("doc_id").alias("b_id"), F.col("grams").alias("b_g"))
    inter = F.size(F.array_intersect("a_g", "b_g"))
    union = F.size("a_g") + F.size("b_g") - inter
    pairs = (
        candidates.join(a, "a_id").join(b, "b_id")
        .withColumn("jaccard", F.floor(inter / union * 10000) / 10000)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
        .unionByName(star)
        .persist()
    )
    pairs.count()
    docs.unpersist()
    return pairs


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with exact verify: 64-bit fingerprints,
    candidates blocked on equality of one of four 16-bit bands (any
    pair within Hamming distance 3 shares a band by pigeonhole;
    wider distances are caught probabilistically), pruned by popcount
    distance <= SIMHASH_MAX_HAMMING, then VERIFIED with exact
    word-3-gram Jaccard >= JACCARD_THRESHOLD — the textbook simhash
    deployment (banding and hamming are the cheap candidate path;
    the exact verify is what gets published).

    Round 12: the verify stage replaced publishing raw hamming
    pairs. Raw 64-bit fingerprints of short documents sit within
    hamming 10 of each other by CHANCE (74k coincidence pairs at
    sf0.1 against 249 true near-dups) — at 100 TB that output is
    noise, and it was also engine-specific, barring any check
    sharper than rows-only. With candidates exact-verified, the
    output is a SUBSET of the ground-truth >=JACCARD_THRESHOLD pair set with
    exact jaccard values (pytest pins both). It stays rows-only, NOT
    equality-oracled: banding recall is measurably imperfect —
    222/249 true pairs at sf0.1, every miss band-caused (true
    near-dups reach hamming 12; the 4 x 16-bit scheme only
    guarantees h<=3 by pigeonhole, and closing that gap needs ~13
    five-bit bands whose n^2/32 candidate volume is a scale
    non-starter). That approximation trade-off is the method;
    asserting equality would claim recall simhash does not have.
    Hamming stays internal: a one-ALU-op prune on the raw candidate
    stream before the dedup shuffle and the gram verify.

    Duplicate-skew safety mirrors dedup_minhash_lsh: exact copies
    collapse to one representative per distinct text before hashing
    (identical texts share all four bands, so an uncollapsed hot
    document would go quadratic in its copy count), re-expanded as
    star edges with jaccard 1.0; residual near-identical skew is
    bounded by the BUCKET_CAP band-membership cap. The groups
    aggregate feeds both the simhash pipeline and the star join —
    one exchange, reused by both branches of the union.
    """
    from simpleetlpipeline_spark.functions.text import tokens_col

    simhash = simhash_from_hashes_udf()
    raw = fan_out(read_table(spark, sf_dir, "documents"))
    groups = collapse_exact_groups(raw, "doc_id", "text")
    # One pass over the reps computes BOTH the token hashes feeding
    # the fingerprint and the gram sets feeding the exact verify;
    # persisted because the verify joins it on both sides. fp and
    # n_copies ride along (round 12) so star_pairs reads its dup reps
    # from this cache instead of re-running the collapse subtree.
    docs = groups.select(
        "doc_id",
        F.transform(tokens_col(F.col("text")),
                    lambda t: F.xxhash64(t)).alias("hs"),
        word_ngram_hashes_col(F.col("text")).alias("grams"),
        "fp", "n_copies",
    ).select("doc_id", simhash("hs").alias("sh"), "grams",
             "fp", "n_copies")
    docs = docs.persist()
    star = star_pairs(raw, docs, "doc_id", "text").withColumn(
        "jaccard", F.lit(1.0))

    bands = docs.select(
        "doc_id", "sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("sh", b * 16).bitwiseAND(F.lit(0xFFFF))
                .alias("bucket"),
            )
            for b in range(4)
        ])).alias("bb"),
    ).select("doc_id", "sh", "bb.band", "bb.bucket")
    bands = cap_bucket_members(bands, ["band", "bucket"], "doc_id",
                               BUCKET_CAP)

    # Round 12: in-array pair enumeration over per-bucket posting
    # lists replaces the band self-join (see band_candidates — the
    # join re-ran the simhash kernel once per side). The popcount
    # prune stays BEFORE the distinct, now as an in-array filter:
    # one ALU op per raw candidate, so the dedup shuffle only
    # carries surviving pairs.
    members = (
        bands.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sh")))
             .alias("m"))
        .filter(F.size("m") >= 2)
    )
    cand = F.filter(
        ordered_pairs(F.col("m"), lambda a, b: F.struct(
            a["doc_id"].alias("a_id"), b["doc_id"].alias("b_id"),
            F.bit_count(a["sh"].bitwiseXOR(b["sh"])).alias("hd"))),
        lambda p: p["hd"] <= F.lit(SIMHASH_MAX_HAMMING))
    candidates = (
        members.select(F.explode(cand).alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct()
    )
    return track(_verified_pairs(candidates, docs, star))


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,   # hash-oracled round 11
    "dedup_simhash": dedup_simhash,  # rows-only: banding recall < 1 (measured)
}

# Ground-truth pair graph for the MinHash-LSH family (round-10
# verdict task #4: promote the seeded-LSH family from rows-only).
# The LSH pipeline's OUTPUT is exact-verified pairs — candidates are
# filtered by true Jaccard — so the seed only controls RECALL: which
# >=threshold pairs banding surfaces. DuckDB computes the full
# >=threshold pair set exactly (shared-gram blocking is exhaustive:
# jaccard > 0 implies a shared gram, and gram blocking is linear-ish
# because non-duplicate docs rarely share word 3-grams), plus the
# exact-duplicate star edges (group-min rep -> member, jaccard 1.0).
# Oracle == Spark output therefore ATTESTS PERFECT RECALL on the
# fixture, not just structure: verified exact-equal at sf0.01, sf0.1
# and sf1 (planted near-dups are high-jaccard, where
# P(banding miss) = (1 - j^4)^8 is negligible, and no band bucket
# hits BUCKET_CAP); a fixture regen that plants borderline-jaccard
# pairs would red HERE as a genuine recall loss. String grams vs
# Spark's 64-bit gram hashes: identical Jaccard modulo xxhash64
# collisions (the dedup_ngram_jaccard oracle's equivalence). The
# floor(inter/union*10000) expression keeps Spark's left-assoc
# divide-then-scale evaluation order so both engines round
# identically at floor boundaries.
_MINHASH_PAIRS_SQL = f"""
        reps AS (
            SELECT min(doc_id) AS doc_id, text
            FROM documents GROUP BY text
        ), mtoks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM reps
        ), mgrams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(t) - 3, 0) + 2),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')
                   )) AS g
            FROM mtoks
        ), msizes AS (
            SELECT doc_id, len(g) AS n FROM mgrams
        ), mex AS (
            SELECT doc_id, unnest(g) AS gr FROM mgrams
        ), mcommon AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(count(*) AS BIGINT) AS inter
            FROM mex a JOIN mex b
              ON a.gr = b.gr AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), mh_pairs AS (
            SELECT a_id, b_id,
                   floor(inter * 1.0 / (sa.n + sb.n - inter)
                         * 10000) / 10000 AS jaccard
            FROM mcommon
            JOIN msizes sa ON sa.doc_id = a_id
            JOIN msizes sb ON sb.doc_id = b_id
            WHERE floor(inter * 1.0 / (sa.n + sb.n - inter)
                        * 10000) / 10000 >= {JACCARD_THRESHOLD}
            UNION ALL
            SELECT r.doc_id AS a_id, d.doc_id AS b_id,
                   CAST(1.0 AS DOUBLE) AS jaccard
            FROM documents d
            JOIN reps r ON d.text = r.text AND d.doc_id != r.doc_id
        )
"""

ORACLE_SQL = {
    "dedup_minhash_lsh": f"""
        WITH {_MINHASH_PAIRS_SQL}
        SELECT a_id, b_id, jaccard FROM mh_pairs
    """,
    # dedup_simhash deliberately has NO oracle entry (rows-only): the
    # round-12 attempt to share the ground-truth pair graph MEASURED
    # the banding's recall at 222/249 true pairs at sf0.1 (27 misses,
    # all band-caused — true near-dups reach hamming 12, beyond the
    # 4 x 16-bit pigeonhole guarantee of h<=3, and fixing that by
    # pigeonhole needs ~13 five-bit bands whose candidate volume is
    # n^2/32 — a scale non-starter). Equality-oracling it would
    # assert recall the method does not have; instead pytest pins
    # output ⊆ ground truth with matching exact-Jaccard values
    # (test_simhash_subset_of_ground_truth) plus planted-pair and
    # star-edge structure — the same classification as the
    # embedding-LSH family, whose recall is also measurably < 1.
    "dedup_exact": """
        SELECT md5(text) AS text_md5,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    "dedup_ngram_jaccard": f"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(t) - {NGRAM}, 0) + 2),
                       i -> array_to_string(list_slice(t, i, i + {NGRAM - 1}), ' ')
                   )) AS g
            FROM toks
        ), sizes AS (
            SELECT doc_id, len(g) AS n FROM grams
        ), ex AS (
            SELECT doc_id, unnest(g) AS gr FROM grams
        ), common AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM (SELECT * FROM ex WHERE doc_id < {N_PROBES}) a
            JOIN ex b ON a.gr = b.gr AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT a_id, b_id, n_common,
               floor(n_common * 1.0 / (sa.n + sb.n - n_common) * 10000) / 10000
                   AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
    """,
}


def connected_components(edges: DataFrame, a: str = "a_id",
                         b: str = "b_id", max_iter: int = 20,
                         driver_threshold: int = 500_000) -> DataFrame:
    """Min-label connected components over a pair graph.

    Returns (node, component) where component is the minimum node id
    reachable from `node`. Two regimes, picked by edge count — the
    same reasoning as Spark's broadcast-join threshold:

    - pair graph fits comfortably on the driver (< driver_threshold
      edges): collect + union-find. Near-dup pair graphs are sparse
      by construction (LSH emits only probable duplicates), and the
      distributed fixpoint costs 3+ scheduled jobs PER ROUND — pure
      scheduling overhead when the graph is a few thousand edges
      (measured 6.4s for 256 edges vs <0.5s here).
    - larger: iterative min-label propagation, join-propagate-
      aggregate until no label changes (diameter-bounded; tiny-clique
      near-dup graphs converge in 2-3 rounds). Each round is one
      shuffle keyed by node id and the per-round changed count is the
      only driver scalar, so this path distributes at any scale.

    The edge count itself is one aggregate over the (persisted) edge
    list, which every round would have to materialize anyway.
    """
    # Persist the RAW edge list first: the pair-generation pipeline
    # upstream (MinHash-LSH / blocked scoring over the full corpus)
    # runs exactly once into this cache, and the regime probe's count
    # doubles as the materialization. The symmetrized+distinct form
    # is built only for the distributed regime — union-find merges
    # both endpoints of a directed edge anyway, so symmetrizing for
    # the driver path would just double the edge scan and add a
    # distinct shuffle for nothing.
    edges_p = (
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .persist()
    )
    n_edges = edges_p.count()
    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # toPandas (Arrow), not collect(): Row objects cost ~100+
        # bytes/edge on the driver, so a near-threshold collect would
        # hold hundreds of MB; Arrow lands the edge list as two int64
        # numpy columns (~8 MB at the 500k-edge threshold). Only the
        # union-find dict (distinct nodes, not edges) stays per-object.
        pdf = edges_p.toPandas()
        for s, d in zip(pdf["src"].to_numpy().tolist(),
                        pdf["dst"].to_numpy().tolist()):
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by min so the representative IS the min label
                if rs < rd:
                    parent[rd] = rs
                else:
                    parent[rs] = rd
        edges_p.unpersist()
        return driver_rows_df(edges.sparkSession,
                              [(n, find(n)) for n in parent],
                              "node bigint, component bigint")

    # Distributed regime: every propagation round joins against the
    # symmetric edge list, so IT carries the persist from here on
    # (built from the already-cached raw edges — one upstream run).
    sym = (
        edges_p.union(
            edges_p.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        # candidate labels: own label plus the minimum neighbor label
        neighbor_min = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
            )
        )
        # persist BEFORE the convergence probe so the probe's pass
        # materializes the cache the next round reuses; then drop the
        # previous round's cache (state is one generation deep).
        new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1).count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    # final labels are cached + materialized by the last probe, so the
    # edge caches are no longer needed; the labels cache itself is
    # consumed lazily by callers, so the registry owns its release.
    sym.unpersist()
    edges_p.unpersist()
    return track(labels)


def dedup_cluster_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs -> connected components
    -> per-cluster canonical doc (min doc_id), cluster size, and the
    sorted member array. The step that turns pairwise near-dup hits
    into keep/drop decisions in a training-data pipeline. Internal
    form — `members` is array<long> for programmatic consumers
    (corpus_curate_neardup explodes it); the catalog entry
    dedup_clusters serializes it for the gate."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    comps = connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(
            F.min("node").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("cluster_size"),
            F.array_sort(F.collect_list("node")).alias("members"),
        )
        .select("keep_doc_id", "cluster_size", "members")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog form of dedup_cluster_frame: the member list rides as
    a deterministic comma-joined string (sorted ascending), because
    the gate's pandas canonicalizer cannot hash array cells. Same
    information, scalar schema. Hash-oracled since round 11 against
    the recursive closure of the ground-truth pair graph
    (_MINHASH_PAIRS_SQL); structure additionally unit-tested on
    planted clusters."""
    return dedup_cluster_frame(spark, sf_dir).select(
        "keep_doc_id", "cluster_size",
        F.concat_ws(",", F.col("members").cast("array<string>"))
        .alias("members"),
    )


QUERIES["dedup_clusters"] = dedup_clusters  # hash-oracled round 11

# Same reach-closure pattern as dedup_clusters_exact, over the
# MinHash ground-truth pair graph (see _MINHASH_PAIRS_SQL: oracle
# equality attests the LSH stage's perfect recall on the fixture).
ORACLE_SQL["dedup_clusters"] = f"""
        WITH RECURSIVE {_MINHASH_PAIRS_SQL}
        , sym AS (
            SELECT a_id AS a, b_id AS b FROM mh_pairs
            UNION
            SELECT b_id, a_id FROM mh_pairs
        ), reach(n, m) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
        ), comp AS (
            SELECT n, min(m) AS component FROM reach GROUP BY n
        )
        SELECT CAST(component AS BIGINT) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS cluster_size,
               string_agg(CAST(n AS VARCHAR), ',' ORDER BY n) AS members
        FROM comp GROUP BY component
"""


# ---------------------------------------------------- exact pair graph

#: Stop-shingle cap for the exact all-pairs graph: shingles occurring
#: in more than this many documents are dropped from the shingle
#: universe (standard stop-shingle removal). This is what bounds the
#: inverted-index self-join: every shingle bucket holds <= DF_CAP
#: docs, so pair generation is O(n_shingles * DF_CAP^2) regardless of
#: corpus size — the all-pairs graph stays linear-ish without any
#: seeded hashing, which is what makes it SQL-oracle-verifiable
#: (unlike the MinHash/SimHash families).
DF_CAP = 50


def dedup_pairs_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs near-dup graph over a df-capped shingle space.

    Inverted index via grouped posting LISTS: one hash aggregate
    collects each gram's (sorted) doc list; lists longer than DF_CAP
    are stop-shingles and drop; each surviving list emits its
    C(df, 2) ordered pairs directly with array HOFs. Versus the
    classic posting self-join this generates every a<b pair ONCE
    (the join materializes df^2 rows then filters half), needs no
    separate df-count pass, and replaces the join's two-sided
    shuffle with the single groupBy the df count already paid —
    measured ~1.4x on this stage at sf0.1 (same 1.13M pair groups;
    the gap widens with DF_CAP since the join's df^2 fan-out grows
    twice as fast as C(df,2)). Unlike dedup_ngram_jaccard
    (probe-blocked) this covers EVERY pair, and unlike
    dedup_minhash_lsh it is deterministic SQL — the oracle-verifiable
    twin of the LSH candidate generator.

    Scale: one shuffle on the 64-bit gram hash (posting lists, each
    bounded to DF_CAP ids), one on (a_id, b_id) for the common
    counts, one doc-keyed shuffle for sizes. Pair fan-out per gram is
    bounded at C(DF_CAP, 2); everything else is linear.

    Caching: the capped posting stream (kg) has two consumers (pair
    generation + per-doc sizes), and the returned pair graph is one
    shared frame for its two catalog consumers (this query and
    dedup_clusters_exact). Both persists are lazy and registry-owned.
    """
    return shared(spark,
                  ("pairs_all", sf_dir, NGRAM, JACCARD_THRESHOLD, DF_CAP),
                  lambda: _pairs_all(spark, sf_dir))


def _pairs_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gram-posting stream (doc_id, gram_hash), persisted: it has two
    # in-plan consumers (df count + join-back). dedup_ngram_jaccard
    # deliberately recomputes its own: its probe join is one pipelined
    # pass, and materializing a cache there measured SLOWER (8s vs
    # ~3s at sf0.1) — reuse only wins when a stream is scanned twice.
    ex = track(
        fan_out(read_table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(word_ngram_hashes_col(
            F.col("text"), NGRAM)).alias("g"))
        .persist())
    # df-filter BEFORE the list build: a cheap count aggregate keeps
    # only sub-cap grams, and the posting stream semi-joins against
    # it before collect_list — so a hot stop-shingle costs a counter,
    # never an unbounded list in one aggregation buffer, and every
    # list the final agg does buffer is <= DF_CAP. Both aggregates
    # shuffle on the same gram key, so the second reuses the first's
    # partitioning. (Measured vs alternatives at sf0.1: count+join
    # ~1.4x the unbounded single-agg form, a window-count pre-filter
    # ~2x — this is the cheapest bounded-memory shape.)
    kept = (ex.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= DF_CAP).select("g"))
    kg = track(
        ex.join(kept, "g")
        .groupBy("g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .persist()
    )
    sizes = (kg.select(F.explode("ids").alias("doc_id"))
             .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
    # C(df,2) pairs per posting list; ids is sorted, so a < b holds
    # structurally.
    pair_structs = ordered_pairs(
        F.col("ids"),
        lambda a, b: F.struct(a.alias("a_id"), b.alias("b_id")))
    common = (
        kg.select(F.explode(pair_structs).alias("p"))
        .select("p.a_id", "p.b_id")
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    a_sz = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("a_n"))
    b_sz = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("b_n"))
    jac = F.col("n_common") / (F.col("a_n") + F.col("b_n") - F.col("n_common"))
    return (
        common.join(a_sz, "a_id").join(b_sz, "b_id")
        .withColumn("jaccard", F.floor(jac * 10000) / 10000)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "n_common", "jaccard")
    )


def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over the EXACT pair graph
    (dedup_pairs_all), so the whole pipeline — shingle index, pair
    Jaccard, component labels, keep/drop manifest — is verified
    end-to-end by a DuckDB recursive-CTE oracle. The MinHash twin
    (dedup_clusters) has the same output shape and, since round 11,
    its own recursive-CTE oracle over the ground-truth pair graph
    (_MINHASH_PAIRS_SQL).
    """
    pairs = dedup_pairs_all(spark, sf_dir)
    comps = connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(
            F.min("node").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("cluster_size"),
            F.concat_ws(",", F.array_sort(F.collect_list("node"))
                        .cast("array<string>")).alias("members"),
        )
        .select("keep_doc_id", "cluster_size", "members")
    )


QUERIES["dedup_pairs_all"] = dedup_pairs_all
QUERIES["dedup_clusters_exact"] = dedup_clusters_exact

#: Shared SQL: the exact df-capped pair graph (mirrors
#: dedup_pairs_all; gram-hash vs gram-string equivalence as above).
_PAIRS_ALL_SQL = f"""
        toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(t) - {NGRAM}, 0) + 2),
                       i -> array_to_string(list_slice(t, i, i + {NGRAM - 1}), ' ')
                   )) AS g
            FROM toks
        ), ex AS (
            SELECT doc_id, unnest(g) AS gr FROM grams
        ), kept AS (
            SELECT gr FROM ex GROUP BY gr HAVING count(*) <= {DF_CAP}
        ), kg AS (
            SELECT doc_id, gr FROM ex JOIN kept USING (gr)
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM kg GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM kg a JOIN kg b
              ON a.gr = b.gr AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT a_id, b_id, n_common,
                   floor(n_common * 1.0 / (sa.n + sb.n - n_common)
                         * 10000) / 10000 AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = b_id
            WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
        )
"""

ORACLE_SQL["dedup_pairs_all"] = f"""
        WITH {_PAIRS_ALL_SQL}
        SELECT a_id, b_id, n_common, jaccard FROM pairs
"""

ORACLE_SQL["dedup_clusters_exact"] = f"""
        WITH RECURSIVE {_PAIRS_ALL_SQL}
        , sym AS (
            SELECT a_id AS a, b_id AS b FROM pairs
            UNION
            SELECT b_id, a_id FROM pairs
        ), reach(n, m) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
        ), comp AS (
            SELECT n, min(m) AS component FROM reach GROUP BY n
        )
        SELECT CAST(component AS BIGINT) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS cluster_size,
               string_agg(CAST(n AS VARCHAR), ',' ORDER BY n) AS members
        FROM comp GROUP BY component
"""


# ------------------------------------------------- incremental dedup

#: Batch split for the incremental demo: every 5th document plays the
#: role of the incoming shard, the rest are the already-ingested base
#: corpus. Same arithmetic in the oracle.
INCR_MOD = 5


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-base) exact dedup — the nightly-ingest
    shape: new documents are checked against the fingerprint index of
    the already-ingested corpus, NOT against each other all-pairs.

    Emits every batch document with its content md5 and whether it
    already exists in the base. Scale: the base side reduces to its
    distinct md5 set (grouped map-side), the probe is one equi-join
    shuffled on the 128-bit key — at 100 TB the base fingerprint set
    is a persisted bucketed table and the join is exchange-free on
    the batch side only.
    """
    docs = read_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    batch = (docs.filter(F.pmod("doc_id", F.lit(INCR_MOD)) == 0)
             .select("doc_id", fp.alias("text_md5")))
    base = (docs.filter(F.pmod("doc_id", F.lit(INCR_MOD)) != 0)
            .select(fp.alias("text_md5")).distinct()
            .withColumn("__hit", F.lit(1)))
    return (
        batch.join(base, "text_md5", "left")
        .select("doc_id", "text_md5",
                F.col("__hit").isNotNull().alias("is_dup"))
    )


QUERIES["dedup_incremental"] = dedup_incremental

ORACLE_SQL["dedup_incremental"] = f"""
    WITH batch AS (
        SELECT doc_id, md5(text) AS text_md5 FROM documents
        WHERE doc_id % {INCR_MOD} = 0
    ), base AS (
        SELECT DISTINCT md5(text) AS text_md5 FROM documents
        WHERE doc_id % {INCR_MOD} != 0
    )
    SELECT b.doc_id, b.text_md5,
           (base.text_md5 IS NOT NULL) AS is_dup
    FROM batch b LEFT JOIN base USING (text_md5)
"""


# ----------------------------------------------- shared-window dedup

#: Window length (tokens) for exact-substring overlap detection. Long
#: enough that a shared window is essentially never coincidence
#: (boilerplate shorter than this is df-capped away anyway), short
#: enough to catch partial-overlap duplication Jaccard dilutes.
SUBSTR_WINDOW = 12


def rolling_window_hashes_udf(n: int):
    """Arrow-vectorized distinct rolling-window hashes over per-doc
    token-hash arrays.

    The chained-xxhash column form (word_ngram_hashes_col) costs n-1
    interpreted zip_with passes per document — fine at n=3, dominant
    at n=12 (measured ~3.5s of dedup_shared_windows' 4.2s at sf0.1).
    Here each Arrow batch computes a degree-(n-1) polynomial hash of
    every window with n vectorized multiply-adds in uint64 (mod 2^64
    wraparound IS the hash), then np.unique for the per-doc distinct
    set. Window-hash equality coincides with window-string equality
    modulo ~2^-64 collisions — same contract as
    word_ngram_hashes_col, different hash family (equality is all
    the posting-list join consumes; the two families must simply not
    be mixed). Docs shorter than n hash their whole token array
    (w = len), mirroring the SQL slice-clamp semantics; different
    window widths cannot collide except at hash-collision odds.
    """
    from pyspark.sql.functions import pandas_udf

    base = np.uint64(1099511628211)  # FNV-1a prime as polynomial base

    @pandas_udf("array<long>")
    def _roll(hs: pd.Series) -> pd.Series:
        out = []
        for arr in hs:
            if arr is None:  # null-text doc: no windows (the SQL
                out.append(np.empty(0, dtype=np.int64))  # twin's
                continue                                 # NULL-drop)
            a = np.asarray(arr, dtype=np.int64).view(np.uint64)
            length = a.size
            if length == 0:
                out.append(np.empty(0, dtype=np.int64))
                continue
            w = min(n, length)
            # mod-2^64 wraparound IS the hash — silence numpy's
            # overflow warning so real warnings stay visible in
            # bench/driver output.
            with np.errstate(over="ignore"):
                pows = np.empty(w, dtype=np.uint64)
                pows[w - 1] = np.uint64(1)
                for j in range(w - 2, -1, -1):
                    pows[j] = pows[j + 1] * base
                k = length - w + 1
                h = np.zeros(k, dtype=np.uint64)
                for j in range(w):
                    h += a[j:j + k] * pows[j]
            out.append(np.unique(h).view(np.int64))
        return pd.Series(out)

    return _roll


def dedup_shared_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring overlap pairs: documents sharing at least one
    verbatim SUBSTR_WINDOW-token run, with the count of distinct shared
    windows — the window-granular approximation of suffix-array exact
    substring dedup (the dedup class that catches a paragraph copied
    into an otherwise-unrelated document, which whole-doc Jaccard
    (dedup_pairs_all) dilutes below threshold and MinHash rarely
    samples).

    Same engine shape as dedup_pairs_all, reusing its bounded-memory
    machinery on long windows instead of 3-gram shingles: chained
    token-hash windows (tokens hashed once JVM-side, the 12-wide
    polynomial combine vectorized in numpy — see
    rolling_window_hashes_udf; hash equality == window-string
    equality modulo 2^-64), df-capped posting lists (windows in more
    than DF_CAP docs are boilerplate and drop), C(df,2) ordered pair
    emission per list. One shuffle on the 64-bit window hash, one on
    the pair key; fan-out bounded at C(DF_CAP, 2) per window at any
    corpus size.
    """
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    docs = fan_out(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        rolling_window_hashes_udf(SUBSTR_WINDOW)(
            F.transform(toks, lambda t: F.xxhash64(t))).alias("grams"))
    # explode_outer + explicit null filter, NOT explode (round-12,
    # optimization guide §4.4): explode's implicit size>0 generate
    # filter gets pushed below the fan_out exchange, where evaluating
    # it re-runs the Arrow rolling-hash kernel — the plan carried TWO
    # ArrowEvalPython nodes per subtree. explode_outer generates no
    # such filter; the g-not-null filter above the Generate restores
    # the exact row set (window hashes inside arrays are never null;
    # only empty/null-text docs produce the null-g rows it drops).
    ex = (docs.select("doc_id", F.explode_outer("grams").alias("g"))
          .filter(F.col("g").isNotNull()))
    kept = (ex.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= DF_CAP).select("g"))
    kg = (
        ex.join(kept, "g")
        .groupBy("g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    )
    pair_structs = ordered_pairs(
        F.col("ids"),
        lambda a, b: F.struct(a.alias("a_id"), b.alias("b_id")))
    return (
        kg.select(F.explode(pair_structs).alias("p"))
        .select("p.a_id", "p.b_id")
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


QUERIES["dedup_shared_windows"] = dedup_shared_windows

ORACLE_SQL["dedup_shared_windows"] = f"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - {SUBSTR_WINDOW}, 0) + 2),
                   i -> array_to_string(
                       list_slice(t, i, i + {SUBSTR_WINDOW - 1}), ' ')
               )) AS g
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(g) AS gr FROM grams
    ), kept AS (
        SELECT gr FROM ex GROUP BY gr HAVING count(*) <= {DF_CAP}
    ), kg AS (
        SELECT doc_id, gr FROM ex JOIN kept USING (gr)
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(count(*) AS BIGINT) AS n_shared_windows
    FROM kg a JOIN kg b ON a.gr = b.gr AND a.doc_id < b.doc_id
    GROUP BY 1, 2
"""


SEGMENT_LEN = 20


def segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup, C4-style, adapted to the newline-free
    testdata corpus: each document splits into consecutive
    SEGMENT_LEN-token segments, every segment that already appeared
    earlier in the corpus (first occurrence = lexicographically
    smallest (doc_id, seg_idx)) is DROPPED, and each document is
    rebuilt from its surviving segments in order — the op that
    removes boilerplate paragraphs repeated across pages without
    discarding whole documents (whole-doc dedup keeps both copies;
    this keeps one copy of the PARAGRAPH).

    Engine shape: segments explode JVM-side (transform over a
    sequence + posexplode — no Python), winners are one hash-agg
    keyed on (64-bit segment hash, segment) — the hash leads the
    shuffle/join key for cheap comparison, the text disambiguates
    so a hash collision between different paragraphs resolves
    exactly as the oracle's text-keyed GROUP BY does
    (min(struct(doc_id, seg_idx)) is exact and order-insensitive),
    survivors join back on the same key, and the rebuild is one per-doc
    agg whose state is bounded by a single document's length.
    Per-doc segment counts come straight off the UN-exploded docs
    frame (ceil(|tokens|/SEGMENT_LEN)) — never a second pass over the
    exploded relation just to count it. The shuffles — winner agg,
    hash join back, per-doc rebuild, final doc_id join — are each
    linear in corpus size at any SF.
    Output digest is md5 (computed identically by Spark and DuckDB)
    so the oracle hashes the rebuilt TEXT, not just counts."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_segs = F.ceil(F.size(toks) / F.lit(float(SEGMENT_LEN))).cast("int")
    segs_arr = F.transform(
        F.sequence(F.lit(0), n_segs - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * SEGMENT_LEN + F.lit(1), SEGMENT_LEN), " "))
    segs = (docs
            .select("doc_id", F.posexplode(segs_arr).alias("seg_idx", "seg"))
            .withColumn("seg_hash", F.xxhash64("seg")))
    # Group on (hash, seg) — not hash alone: a 64-bit collision
    # between two DIFFERENT segments must form two winner groups,
    # exactly as the oracle's seg-keyed GROUP BY does, or Spark
    # drops a paragraph the oracle keeps.  The hash stays first in
    # the key so the shuffle partitioner and join probe compare 8
    # bytes before touching text; map-side combine still collapses
    # duplicate segments before the exchange.
    winners = (segs.groupBy("seg_hash", "seg")
               .agg(F.min(F.struct("doc_id", "seg_idx")).alias("win")))
    kept = (segs.join(winners, ["seg_hash", "seg"])
            .filter((F.col("doc_id") == F.col("win.doc_id"))
                    & (F.col("seg_idx") == F.col("win.seg_idx"))))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("seg_idx", "seg"))),
                            lambda s: s.seg),
                        " ").alias("txt")))
    # derivable without touching the exploded relation; the isNotNull
    # mirrors posexplode's drop of null-text docs
    totals = (docs.select("doc_id", n_segs.cast("long").alias("n_segments"))
              .where(F.col("n_segments").isNotNull()))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select("doc_id",
                "n_segments",
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                F.md5(F.coalesce("txt", F.lit(""))).alias("kept_text_md5"))
        .orderBy("doc_id")
    )


QUERIES["segment_dedup"] = segment_dedup

ORACLE_SQL["segment_dedup"] = f"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), seg_lists AS (
        SELECT doc_id,
               list_transform(
                   range(0, CAST(ceil(len(t) / {SEGMENT_LEN}.0) AS BIGINT)),
                   i -> struct_pack(
                       seg_idx := i,
                       seg := array_to_string(
                           list_slice(t, i * {SEGMENT_LEN} + 1,
                                      i * {SEGMENT_LEN} + {SEGMENT_LEN}),
                           ' '))) AS sl
        FROM toks
    ), segs AS (
        SELECT doc_id, u.seg_idx AS seg_idx, u.seg AS seg
        FROM (SELECT doc_id, unnest(sl) AS u FROM seg_lists)
    ), winners AS (
        SELECT seg,
               min(struct_pack(d := doc_id, s := seg_idx)) AS win
        FROM segs GROUP BY 1
    ), kept AS (
        SELECT s.doc_id, s.seg_idx, s.seg
        FROM segs s JOIN winners w
          ON s.seg = w.seg AND s.doc_id = w.win.d AND s.seg_idx = w.win.s
    ), reb AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(seg, ' ' ORDER BY seg_idx) AS txt
        FROM kept GROUP BY 1
    ), totals AS (
        SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(t.n_segments AS BIGINT) AS n_segments,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(r.txt, '')) AS kept_text_md5
    FROM totals t LEFT JOIN reb r ON t.doc_id = r.doc_id
    ORDER BY t.doc_id
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, the
    number of DISTINCT word 5-gram shingles appearing in both
    sources and the Jaccard of the two shingle sets — the
    which-feeds-mirror-each-other view that decides what to drop
    when two sources overlap (the pairwise generalization of
    source_vocab_overlap, on shingles instead of vocabulary, so
    near-verbatim copying registers even when no whole document is
    byte-identical).

    Cross-engine contract: shingles travel as STRINGS on both sides
    (an engine-local 64-bit hash would make a collision a
    cross-engine divergence — the segment_dedup lesson); Jaccard is
    integer counts through one floored division.

    Shape (ONE corpus-scale shuffle since round 10 — the round-9
    verdict's sf1-tail item): one docs scan -> in-row gram
    construction -> groupBy(gram) with a map-side-combining
    collect_set(source). That single hash agg replaces the former
    three corpus-scale shuffles (DISTINCT (source, gram), then the
    gram-keyed self-join re-shuffling BOTH copies of the same
    frame): each distinct gram's source-set array is tiny (<=
    |sources|), so the pair emission C(k,2) and the per-source
    totals both run on the POST-aggregation frame — array
    combinatorics on |distinct grams| rows, not a second pass over
    the corpus. At 100 TB that is one shingle shuffle instead of
    three; a stopword-like gram held by every source still costs
    C(|sources|,2) rows, bounded by the source count, not the
    corpus. Measured sf1: 6.9s -> ~3.4s."""
    from simpleetlpipeline_spark.io import fan_out
    from simpleetlpipeline_spark.functions.text import (
        word_gram_strings_expr,
    )

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    gram_sources = (docs
                    .withColumn("__toks",
                                F.split(F.lower(F.trim(F.col("text"))),
                                        r"\s+"))
                    .select("source",
                            F.explode(word_gram_strings_expr(OVERLAP_NGRAM))
                            .alias("sig"))
                    .groupBy("sig")
                    .agg(F.array_sort(F.collect_set("source"))
                         .alias("ss")))
    per_source = (gram_sources
                  .select(F.explode("ss").alias("source"))
                  .groupBy("source")
                  .agg(F.count(F.lit(1)).cast("long").alias("n")))
    # all source_a < source_b pairs of each gram's (sorted) source
    # set, emitted array-side
    pair_col = ordered_pairs(
        F.col("ss"),
        lambda x, y: F.struct(x.alias("source_a"), y.alias("source_b")))
    shared = (gram_sources
              .select(F.explode(pair_col).alias("p"))
              .groupBy(F.col("p.source_a").alias("source_a"),
                       F.col("p.source_b").alias("source_b"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))
    na = per_source.select(F.col("source").alias("source_a"),
                           F.col("n").alias("n_a"))
    nb = per_source.select(F.col("source").alias("source_b"),
                           F.col("n").alias("n_b"))
    return (shared
            .join(F.broadcast(na), "source_a")
            .join(F.broadcast(nb), "source_b")
            .select("source_a", "source_b", "n_a", "n_b", "n_shared",
                    F.expr("n_shared * 1000000 div (n_a + n_b - n_shared)")
                    .alias("jaccard_micro"))
            .orderBy("source_a", "source_b"))


QUERIES["source_overlap_matrix"] = source_overlap_matrix

ORACLE_SQL["source_overlap_matrix"] = f"""
    WITH t AS (
        SELECT source,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), sigs AS (
        SELECT DISTINCT source,
               array_to_string(list_slice(toks, i, i + {OVERLAP_NGRAM - 1}), ' ') AS sig
        FROM t, LATERAL (
            SELECT unnest(range(1, len(toks) - {OVERLAP_NGRAM - 2}))
        ) AS r(i)
        WHERE len(toks) >= {OVERLAP_NGRAM}
    ), per_source AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM sigs GROUP BY 1
    ), shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM sigs a JOIN sigs b
          ON a.sig = b.sig AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           na.n AS n_a, nb.n AS n_b, n_shared,
           n_shared * 1000000 // (na.n + nb.n - n_shared)
               AS jaccard_micro
    FROM shared
    JOIN per_source na ON na.source = source_a
    JOIN per_source nb ON nb.source = source_b
    ORDER BY source_a, source_b
"""

def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-base) NEAR-dup maintenance — the nightly
    shape for the LSH index: a new batch (doc_id % INCR_MOD == 0,
    the established split) is checked against the already-indexed
    base WITHOUT rescoring base-against-base. Returns exactly the
    subset of dedup_minhash_lsh's pair graph that touches a batch
    document (proven equal in tests/test_functions.py — same band
    keys, same caps, same exact-verify), so swapping the nightly
    incremental for a weekly full run changes nothing downstream.

    Scale shape: base band keys and the exact-fingerprint groups are
    the INDEX — at 100 TB both live as persisted bucketed tables and
    this job never rescans base content; here they are recomputed
    from the base scan (linear hash work, no pairwise cost) because
    the testdata ships no committed index. Candidates enumerate
    in-array per bucket posting list (round 12, see band_candidates)
    with the batch restriction applied inside the array, so
    base-x-base pairs never become rows and the distinct shuffle
    carries only the incremental slice. Bucket caps apply to the
    SAME full key frame as the full run (cap first, then restrict)
    so capping decisions — and therefore recall — are bit-identical
    to dedup_minhash_lsh.

    Hash-oracled since round 11: by the slice equivalence above,
    under the same perfect-recall contract as dedup_minhash_lsh the
    output IS the ground-truth pair graph restricted to pairs
    touching a batch document — one WHERE clause on
    _MINHASH_PAIRS_SQL (plus the equivalence pytest)."""
    minhash = minhash_from_gram_hashes_udf()
    raw = fan_out(read_table(spark, sf_dir, "documents"))
    groups = collapse_exact_groups(raw, "doc_id", "text")
    # fp/n_copies ride the persisted gram cache (round 12) so the
    # star join's dup reps come from cache, not a second collapse.
    docs = groups.select(
        "doc_id", word_ngram_hashes_col(F.col("text")).alias("grams"),
        "fp", "n_copies")
    docs = docs.persist()
    star = (star_pairs(raw, docs, "doc_id", "text")
            .withColumn("jaccard", F.lit(1.0))
            .filter((F.pmod("a_id", F.lit(INCR_MOD)) == 0)
                    | (F.pmod("b_id", F.lit(INCR_MOD)) == 0)))
    sig = docs.select("doc_id", "grams", minhash("grams").alias("sig"))

    # Round 12: in-array pair enumeration over the SAME per-bucket
    # posting lists as the full run (_band_postings: same banding,
    # same capping universe, so the incremental candidate set is
    # exactly the full set's batch slice), with the batch
    # restriction applied INSIDE the array — pairs touching no batch
    # doc are dropped before they ever become rows, so the distinct
    # shuffle carries only the incremental slice.
    touches_batch = (
        lambda p: (F.pmod(p["a_id"], F.lit(INCR_MOD)) == 0)
        | (F.pmod(p["b_id"], F.lit(INCR_MOD)) == 0))
    cand = F.filter(
        ordered_pairs(F.col("m"),
                      lambda a, b: F.struct(a.alias("a_id"), b.alias("b_id"))),
        touches_batch)
    candidates = (
        _band_postings(sig).select(F.explode(cand).alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct())
    # same verify and persist discipline as dedup_minhash_lsh; the
    # registry owns the pair cache lifetime
    return track(_verified_pairs(candidates, docs, star))


QUERIES["dedup_minhash_incremental"] = dedup_minhash_incremental

ORACLE_SQL["dedup_minhash_incremental"] = f"""
        WITH {_MINHASH_PAIRS_SQL}
        SELECT a_id, b_id, jaccard FROM mh_pairs
        WHERE a_id % {INCR_MOD} = 0 OR b_id % {INCR_MOD} = 0
"""
