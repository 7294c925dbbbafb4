"""Similarity search over the embeddings table (vec_id, embedding
float[64], label).

North-star ANN inventory (BASELINE.json / build brief):

- ann_topk:          exact cosine top-k of the corpus against a small
                     probe set. Probe side broadcast, two-phase salted
                     top-k (no single-reducer-per-probe skew).
- ann_lsh_topk:      signed-random-projection LSH bucketing (16
                     deterministic hyperplanes x 4 bands) -> candidates
                     -> exact cosine re-rank. The 100 TB path: shuffle
                     is linear in corpus size, never all-pairs.
- embedding_neardup: all-pairs cosine >= threshold. Exact (quadratic)
                     form is oracle-checked at test scale; the LSH-
                     blocked form (embedding_neardup_lsh) is the scale
                     path and is verified by unit-test recall against
                     the exact form.
- label_centroids:   per-label mean vector in long (label, dim, value)
                     form — posexplode + hash agg, fully parallel.

All dot products / norms run as JVM higher-order array functions in
double precision (zip_with + aggregate), matching the oracle's fold
order; the only Python kernel is the Arrow-batched LSH band-key
matmul (no oracle depends on it). Cosine values are floored to 1e-4
in BOTH engines so Spark/DuckDB float sums compare stably, and every
ranking breaks ties deterministically on vec_id.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simpleetlpipeline_spark.cache import file_stamp, shared, track
from simpleetlpipeline_spark.functions.dedup import (
    cap_bucket_members, collapse_exact_groups, star_pairs)
from simpleetlpipeline_spark.io import driver_rows_df, fan_out, read_table

N_PROBES = 10          # probe set = vec_id < N_PROBES
TOP_K = 10
EMB_DIM = 64           # embeddings table contract (oracles hard-code
                       # range(1, 65)); schemas.py pins the width
LSH_PLANES = 16        # default sign bits (tiny-corpus floor)
LSH_BANDS = 4          # bands; candidates agree on >=1 band
LSH_SEED = 7
#: Target mean members per (band, bucket). A FIXED band width makes
#: the LSH self-join quadratic no matter how uniform the buckets
#: are: with B buckets per band, candidate pairs ~ B*(n/B)^2 = n^2/B.
#: Holding OCCUPANCY constant instead (bits per band grows with
#: log2(n/occ)) makes candidates ~ bands*occ/2 * n — linear in n by
#: construction, which is what the docstrings promise. Recall
#: trade-off: band-agree probability for similarity s is
#: (1-theta/pi)^bits, so wider bands keep high-sim recall (~0.98 for
#: cosine 0.99 even at 12 bits x 4 bands) while mid-similarity
#: recall declines — the standard LSH tuning direction as corpora
#: grow. Measured: at 10x testdata, fixed 4-bit bands blew up 18.6x
#: (bucket occupancy 1250); adaptive bits hold the ratio ~linear.
LSH_TARGET_OCCUPANCY = 64
LSH_MAX_BITS = 16


def _lsh_bits_for(n_rows: int) -> int:
    """Bits per band holding mean bucket occupancy at the target."""
    import math

    need = math.ceil(math.log2(max(n_rows, 1) / LSH_TARGET_OCCUPANCY))
    return max(LSH_PLANES // LSH_BANDS, min(LSH_MAX_BITS, need))
NEARDUP_THRESHOLD = 0.4
N_SALTS = 32           # partial-top-k fan-out (scale with corpus size)

#: embedding_neardup (exact, quadratic) broadcast-builds the whole
#: corpus; past this on-disk size the build side would blow executor
#: memory, so the guard fails FAST with the scale-path alternative
#: instead of letting the job OOM mid-stage. Same reasoning as
#: connected_components.driver_threshold.
EXACT_NEARDUP_MAX_BYTES = 256 << 20

#: Bucket-membership cap for the SRP band joins (ann_lsh_topk,
#: embedding_neardup_lsh) — the embedding-space analog of
#: dedup.BUCKET_CAP. Sign-pattern buckets are uniform over DISTINCT
#: directions, but an embedding corpus with a hot near-identical
#: cluster (re-encoded copies of one asset) puts every copy in the
#: same 4-bit-band bucket and the candidate join goes quadratic in
#: the cluster size. Capping at the ANN_BUCKET_CAP smallest vec_ids
#: (deterministic; FAISS-style bounded visit list) bounds per-bucket
#: fan-out; exact-identical vectors never reach the cap in the
#: neardup path — they collapse to one representative upstream.
ANN_BUCKET_CAP = 1000


def _table_bytes(sf_dir: str, name: str) -> int:
    """On-disk footprint of one testdata table — a driver-side stat
    (no Spark job), enough signal to veto a corpus broadcast."""
    import glob
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p))


def _table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of one testdata table via the parquet footer
    statistics (count() over a bare scan plans as a metadata-only
    aggregate — no data pages read). Sizes the LSH band width.
    A shared driver value keyed on the file's stamp, so repeated
    query CONSTRUCTION stays job-free (pinned by
    test_no_driver_collect_in_query_construction) and a rewritten
    table is recounted."""
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    return shared(spark, ("table_rows", file_stamp(path)),
                  lambda: spark.read.parquet(path).count())


def as_double_vec(embedding: Column) -> Column:
    return F.transform(embedding, lambda x: x.cast("double"))


def l2_norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """Cosine floored to 4dp (cross-engine float stability)."""
    return F.floor(dot(a, b) / (a_norm * b_norm) * 10000) / 10000


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parsed-vector frame (vec_id, label, e, nrm), shared by the
    ten ANN/embedding catalog entries: scan -> fan_out -> 64-way cast
    -> norm runs once, built lazily by the family's first consumer
    inside its own timed region (no eager prefill)."""
    # fan_out: every consumer runs an O(dim) interpreted fold per pair
    # downstream of this scan, usually on the streamed side of a
    # broadcast join — i.e. at the scan's own parallelism. label
    # rides along so the IVF coarse quantizer can share the cache.
    return shared(spark, ("vectors", sf_dir), lambda: (
        fan_out(read_table(spark, sf_dir, "embeddings"))
        .select("vec_id", "label",
                as_double_vec(F.col("embedding")).alias("e"))
        .withColumn("nrm", l2_norm(F.col("e")))))


def _topk_per_probe(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Two-phase top-k per probe: partial top-k inside salt buckets,
    then a final top-k over bands*k survivors.

    A single `row_number over (partition by a_id)` would funnel the
    whole corpus through one reducer per probe — with 10 probes that
    is 10 tasks no matter the cluster size. Salting by hash(b_id)
    bounds every group to corpus/N_SALTS rows and the final stage to
    k*N_SALTS rows per probe. N_SALTS scales with corpus size.
    Delegates to the generic operators.aggregates.salted_topk (one
    implementation of the pattern in the tree), renaming its rank
    column to this module's `rank` contract.
    """
    from simpleetlpipeline_spark.operators.aggregates import salted_topk

    return salted_topk(
        scored, ["a_id"], [F.desc("cosine_sim"), F.asc("b_id")], k,
        n_salts=N_SALTS, salt_source=F.xxhash64("b_id"),
    ).withColumnRenamed("topk_rank", "rank")


def ann_topk(spark: SparkSession, sf_dir: str,
             n_probes: int = N_PROBES, k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k against a broadcast probe set.

    Plan shape: scan -> broadcast nested-loop join (corpus x probes,
    probes tiny) -> narrow cosine projection -> two-phase top-k. The
    only shuffles are the two salted/final top-k exchanges keyed by
    probe id — linear in corpus size.
    """
    vecs = _vectors(spark, sf_dir)
    probes = (
        vecs.filter(F.col("vec_id") < n_probes)
        .select(F.col("vec_id").alias("a_id"), F.col("e").alias("a_e"),
                F.col("nrm").alias("a_nrm"))
    )
    corpus = vecs.select(F.col("vec_id").alias("b_id"), F.col("e").alias("b_e"),
                         F.col("nrm").alias("b_nrm"))
    scored = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id",
                cosine(F.col("a_e"), F.col("b_e"),
                       F.col("a_nrm"), F.col("b_nrm")).alias("cosine_sim"))
    )
    return (
        _topk_per_probe(scored, k)
        .select("a_id", "b_id", "rank", "cosine_sim")
    )


def _lsh_bucket_udf(planes: int = LSH_PLANES, bands: int = LSH_BANDS,
                    seed: int = LSH_SEED):
    """Arrow-vectorized signed-random-projection band keys.

    One numpy matmul per batch: bit p of a vector = sign(w_p . v),
    `bands` keys of planes/bands bits each. The hyperplane matrix
    comes from a seeded RandomState built inside the kernel, so every
    executor derives the identical planes — deterministic with no
    fitted/broadcast state, exactly like the minhash kernel
    (dedup.minhash_from_gram_hashes_udf).

    Replaces a pure-column formulation that re-derived every (plane,
    dim) weight per ROW through interpreted higher-order functions
    (~1k expression evaluations per row; measured ~1.4x slower than
    the matmul on the warm path at sf0.1, a gap that grows linearly
    with planes x dims). Proper Gaussian hyperplanes also replace the
    xxhash64-uniform weights — the textbook SRP construction.
    """
    from pyspark.sql.functions import pandas_udf

    bits_per_band = planes // bands

    @pandas_udf("array<struct<band:int,bucket:bigint>>")
    def _bb(e: pd.Series) -> pd.Series:
        mat = np.stack(e.values)
        rng = np.random.RandomState(seed)
        w = rng.standard_normal((planes, mat.shape[1]))
        bits = (mat @ w.T) > 0
        weights = (1 << np.arange(bits_per_band - 1, -1, -1)).astype(np.int64)
        out = []
        for row in bits:
            out.append([
                {"band": b,
                 "bucket": int(row[b * bits_per_band:(b + 1) * bits_per_band]
                               .astype(np.int64) @ weights)}
                for b in range(bands)
            ])
        return pd.Series(out)

    return _bb


def ann_lsh_topk(spark: SparkSession, sf_dir: str,
                 n_probes: int = N_PROBES, k: int = TOP_K,
                 bucket_cap: int = ANN_BUCKET_CAP) -> DataFrame:
    """LSH-bucketed ANN: probe and corpus vectors meet only when they
    share a (band, bucket) key, then exact cosine re-ranks candidates.

    The scale path: candidate generation is an equi-join on bucket
    keys (uniformly distributed sign patterns), so shuffle volume is
    ~bands x corpus rows regardless of probe count — no quadratic
    stage anywhere; bucket membership is capped at bucket_cap (see
    ANN_BUCKET_CAP) so a hot near-identical cluster cannot flood one
    bucket's candidate fan-out. The cap keeps the SMALLEST vec_ids,
    so probe rows (vec_id < n_probes) are never evicted. Recall
    tuned by (planes, bands); verified against ann_topk in
    tests/test_similarity.py.
    """
    vecs = _vectors(spark, sf_dir)
    # Band width scales with corpus size (see LSH_TARGET_OCCUPANCY):
    # constant occupancy keeps the candidate join linear in n.
    bits = _lsh_bits_for(_table_rows(spark, sf_dir, "embeddings"))
    bucketer = _lsh_bucket_udf(planes=LSH_BANDS * bits, bands=LSH_BANDS)
    # Band keys only — the candidate join moves (vec_id, bb) pairs,
    # never the 64-dim payload. Shuffling vectors through the band
    # buckets would multiply shuffle volume by `bands`; instead the
    # payload is joined back by id AFTER candidate dedup, so each
    # vector crosses the wire once, keyed by its own id.
    bands = vecs.select(
        "vec_id", F.explode(bucketer(F.col("e"))).alias("bb"))
    bands = cap_bucket_members(bands, ["bb"], "vec_id", bucket_cap)
    probe_bands = (bands.filter(F.col("vec_id") < n_probes)
                   .select(F.col("vec_id").alias("a_id"), "bb"))
    cand = (
        bands.select(F.col("vec_id").alias("b_id"), "bb")
        .join(F.broadcast(probe_bands), "bb")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    probes = vecs.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("a_id"), F.col("e").alias("a_e"),
        F.col("nrm").alias("a_nrm"))
    # Candidates are probe-bounded (<= probes x bucket sizes), so
    # they broadcast while the corpus is broadcast-sized; beyond the
    # gate AQE decides from runtime sizes.
    if _table_bytes(sf_dir, "embeddings") <= EXACT_NEARDUP_MAX_BYTES:
        cand = F.broadcast(cand)
    scored = (
        cand.join(F.broadcast(probes), "a_id")
        .join(vecs.select(F.col("vec_id").alias("b_id"),
                          F.col("e").alias("b_e"),
                          F.col("nrm").alias("b_nrm")), "b_id")
        .select("a_id", "b_id",
                cosine(F.col("a_e"), F.col("b_e"),
                       F.col("a_nrm"), F.col("b_nrm")).alias("cosine_sim"))
    )
    return (
        _topk_per_probe(scored, k)
        .select("a_id", "b_id", "rank", "cosine_sim")
    )


def embedding_neardup(spark: SparkSession, sf_dir: str,
                      threshold: float = NEARDUP_THRESHOLD,
                      max_bytes: int = EXACT_NEARDUP_MAX_BYTES) -> DataFrame:
    """Exact all-pairs cosine near-dup (a_id < b_id, sim >= t).

    Quadratic by construction — the oracle-checkable ground truth at
    test scale. At 100 TB use embedding_neardup_lsh: same output
    contract, LSH-blocked candidate generation. Guarded: the corpus
    is the broadcast build side, so past max_bytes this refuses to
    plan rather than OOM an executor mid-stage.
    """
    n_bytes = _table_bytes(sf_dir, "embeddings")
    if n_bytes > max_bytes:
        raise ValueError(
            f"embedding_neardup is exact/quadratic and broadcasts the "
            f"full corpus ({n_bytes} bytes > max_bytes={max_bytes}); "
            f"use embedding_neardup_lsh (same output contract, "
            f"LSH-blocked, linear shuffle) at this scale")
    vecs = _vectors(spark, sf_dir)
    a = vecs.select(F.col("vec_id").alias("a_id"), F.col("e").alias("a_e"),
                    F.col("nrm").alias("a_nrm"))
    b = vecs.select(F.col("vec_id").alias("b_id"), F.col("e").alias("b_e"),
                    F.col("nrm").alias("b_nrm"))
    # Pin the build side: the streamed (fanned-out) side keeps the
    # scan's parallelism, so the quadratic scoring runs on all cores.
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id",
                cosine(F.col("a_e"), F.col("b_e"),
                       F.col("a_nrm"), F.col("b_nrm")).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str,
                          threshold: float = NEARDUP_THRESHOLD,
                          bucket_cap: int = ANN_BUCKET_CAP) -> DataFrame:
    """LSH-blocked near-dup: pairs meet only in shared (band, bucket)
    groups; exact cosine verifies candidates. Linear shuffle; the
    self-join fan-out per bucket is corpus/2^bits_per_band on random
    data. Recall vs the exact form is unit-tested.

    Duplicate-skew safety mirrors dedup_minhash_lsh: bit-identical
    vectors collapse to one representative per distinct embedding
    before the SRP kernel (identical vectors share every band, so a
    hot re-encoded asset would go quadratic in its copy count),
    re-expanded as star edges (group min -> member) with
    cosine_sim 1.0 — the mathematically exact value for identical
    vectors, bypassing the 4dp-floored float fold. Residual
    near-identical (non-bit-identical) skew is bounded by the
    bucket_cap membership cap.

    Candidates enumerate in-array per bucket posting list (round 12,
    see dedup.band_candidates): one SRP-kernel pass, one exchange on
    the band key, no self-join. The band frame stays the NARROW one
    (vec_id, band-bucket) — 16 bytes per row per band, never the
    64-dim payload; the 64-dim vectors are consulted only for the
    exact-cosine verify of the surviving candidate pairs (broadcast
    matrix below the size gate, id-joins above it).
    """
    small = _table_bytes(sf_dir, "embeddings") <= EXACT_NEARDUP_MAX_BYTES
    raw = fan_out(read_table(spark, sf_dir, "embeddings"))
    groups = collapse_exact_groups(raw, "vec_id", "embedding")
    # fp rides the persisted cache (round 12) so star_pairs reads its
    # dup reps from here instead of re-running the collapse subtree.
    vecs_n = track(
        groups.select("vec_id",
                      as_double_vec(F.col("embedding")).alias("e"),
                      "fp", "n_copies")
        .withColumn("nrm", l2_norm(F.col("e")))
        .persist())
    vecs = vecs_n.drop("fp", "n_copies")
    pdf = None
    if small:
        # One materialization feeds everything below the gate: the
        # collapse shuffle runs once into the cache, the collect is
        # the verify matrix, and n_copies rides along so the
        # exact-duplicate star join is SKIPPED entirely when the
        # corpus has no bit-identical vectors (the common case) —
        # previously that join ran unconditionally to produce zero
        # rows.
        pdf = vecs_n.select("vec_id", "e", "nrm", "n_copies").toPandas()
        has_exact_dups = bool((pdf["n_copies"] > 1).any())
    else:
        has_exact_dups = True  # unknown without a pass; keep the join
        # No eager cache fill: concurrent first readers of the unbuilt
        # cache serialize per-partition on the block write locks, so
        # the collapse subtree still computes once — and a prefill
        # count() only SERIALIZES a pass ahead of work that overlaps
        # it (measured round 12 on the dedup family: the prefill cost
        # +0.4-0.7s per query at sf0.1 with zero recompute saved).
    star = (star_pairs(raw, vecs_n, "vec_id", "embedding")
            .withColumn("cosine_sim", F.lit(1.0))
            if has_exact_dups else None)
    # Constant-occupancy band width (see LSH_TARGET_OCCUPANCY): the
    # self-join candidate count stays ~bands*occ/2 * n — linear —
    # instead of n^2/B at any fixed width.
    bits = _lsh_bits_for(_table_rows(spark, sf_dir, "embeddings"))
    bucketer = _lsh_bucket_udf(planes=LSH_BANDS * bits, bands=LSH_BANDS)
    bands = cap_bucket_members(
        vecs.select("vec_id",
                    F.explode(bucketer(F.col("e"))).alias("bb")),
        ["bb"], "vec_id", bucket_cap)
    # Round 12: in-array pair enumeration over per-bucket posting
    # lists replaces the band self-join (Catalyst cannot share a
    # subtree across a self-join's sides, so the SRP kernel ran once
    # per side — the persist that used to mask that is gone with the
    # join; the posting aggregate is the single consumer and reuses
    # the cap window's partitioning). Same pair multiset: one row per
    # shared bucket, a < b by the sorted array, no distinct here —
    # the small path dedups AFTER the threshold filter, the big path
    # right below.
    members = (
        bands.groupBy("bb")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("m"))
        .filter(F.size("m") >= 2)
    )
    raw_pairs = (
        members.select(F.explode(F.flatten(F.transform(
            F.col("m"),
            lambda a, i: F.transform(
                F.slice(F.col("m"), i + F.lit(2), F.size("m")),
                lambda b: F.struct(a.alias("a_id"), b.alias("b_id")))))
        ).alias("p"))
        .select("p.a_id", "p.b_id")
    )
    if small:
        # Broadcast-matrix verify (the round-5 treatment that made
        # dedup_minhash_lsh 4x faster): while the collapsed corpus
        # fits the documented broadcast gate, ship the (n x dim)
        # matrix once per executor and score candidate pairs with one
        # vectorized numpy gather+einsum per Arrow batch — the verify
        # stage then moves 16-byte id pairs only, never a 64-double
        # payload, and skips BOTH the pre-verify distinct shuffle
        # (scoring a band-duplicate pair is ~free; dedup happens
        # AFTER the threshold filter on the few surviving rows) and
        # the two payload joins that previously materialized
        # |candidates| x dim doubles mid-plan.
        from pyspark.sql.functions import pandas_udf

        spdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids_sorted = spdf["vec_id"].to_numpy()
        mat = np.stack(spdf["e"].to_numpy()).astype(np.float64)
        nrms = spdf["nrm"].to_numpy().astype(np.float64)
        bc = spark.sparkContext.broadcast((ids_sorted, mat, nrms))

        @pandas_udf("double")
        def pair_cos(a_s: pd.Series, b_s: pd.Series) -> pd.Series:
            ids_b, m, nr = bc.value
            ia = np.searchsorted(ids_b, a_s.to_numpy())
            ib = np.searchsorted(ids_b, b_s.to_numpy())
            d = np.einsum("ij,ij->i", m[ia], m[ib])
            # same 4dp floor as cosine() for cross-path stability
            return pd.Series(
                np.floor(d / (nr[ia] * nr[ib]) * 10000) / 10000)

        out = (
            raw_pairs
            .withColumn("cosine_sim", pair_cos("a_id", "b_id"))
            .filter(F.col("cosine_sim") >= threshold)
            .dropDuplicates(["a_id", "b_id"])
        )
        return out.unionByName(star) if star is not None else out
    # Past the broadcast gate the matrix cannot ship to every worker:
    # dedup candidates first (the distinct pays for itself once each
    # pair costs a payload join), then verify via two shuffled joins
    # — candidate volume is corpus-linear and AQE picks the join
    # strategy from runtime sizes.
    cand = raw_pairs.distinct()
    a = vecs.select(F.col("vec_id").alias("a_id"), F.col("e").alias("a_e"),
                    F.col("nrm").alias("a_nrm"))
    b = vecs.select(F.col("vec_id").alias("b_id"), F.col("e").alias("b_e"),
                    F.col("nrm").alias("b_nrm"))
    return (
        cand.join(a, "a_id").join(b, "b_id")
        .select("a_id", "b_id",
                cosine(F.col("a_e"), F.col("b_e"),
                       F.col("a_nrm"), F.col("b_nrm")).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .unionByName(star)
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, long form (label, dim, centroid_val).

    posexplode -> hash aggregate on (label, dim): map-side partial
    aggregation makes this one narrow shuffle of |labels|x|dims|
    groups however large the corpus. Values floored to 6dp for
    cross-engine stability.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(as_double_vec(F.col("embedding")))
                   .alias("dim", "v"))
        # mean from an EXACT int64 sum of 8dp-quantized components —
        # F.avg over raw doubles folds in partition order and can
        # flip the 6dp floor at a grid boundary between engines
        # (module float-determinism contract)
        .groupBy("label", "dim")
        .agg(F.sum(F.floor(F.col("v") * 1e8).cast("long")).alias("__sq"),
             F.count(F.lit(1)).alias("n_vectors"))
        .select("label", "dim",
                (F.floor(F.col("__sq") / (F.col("n_vectors") * F.lit(100.0)))
                 / 1e6).alias("centroid_val"),
                "n_vectors")
    )


#: Hybrid-search geometry: the fixed query vector (vec_id, aligned
#: 1:1 with doc_id in the fixtures), candidate-pool depth per leg,
#: the RRF damping constant (the standard 60 from the original
#: reciprocal-rank-fusion paper), and the fused top-k.
HYBRID_PROBE_ID = 0
HYBRID_POOL = 50
HYBRID_RRF_K = 60
HYBRID_TOP_K = 10


def hybrid_rrf_search(spark: SparkSession, sf_dir: str,
                      k: int = HYBRID_TOP_K,
                      pool: int = HYBRID_POOL) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with exact-cosine
    vector ranking by Reciprocal Rank Fusion — the standard RAG
    retrieval stack (sparse + dense legs, rank-level fusion so the
    two scores never need calibrating against each other). Score =
    sum over legs of 1/(60 + rank), docs missing from a leg's pool
    contribute 0.

    Determinism: both legs rank by already-quantized keys (BM25's
    int64 micro-score; cosine floored 4dp) with doc_id tie-breaks;
    the RRF sum is two exact IEEE divisions added once, floored to
    nano-units. r_lex / r_vec are carried in the output (NULL when
    the doc is in only one pool) so the gate hashes the fusion's
    inputs, not just its winner list.

    Probe asymmetry, INTENDED (round-8 advice): the dense leg
    excludes HYBRID_PROBE_ID (a vector trivially matches itself at
    cosine 1.0), but the lexical pool may legitimately contain
    doc_id 0 — the lexical query is a FIXED TERM SET
    (bm25_doc_ranking's probe terms), not doc 0's own text, so doc 0
    is an ordinary lexical candidate, not a self-match. The oracle
    mirrors the same rule on both legs.

    Shape: the lexical leg is bm25_doc_ranking's plan (term filter
    below the agg, TakeOrderedAndProject pool); the dense leg is one
    broadcast of the single probe vector against the corpus scan and
    a TakeOrdered pool. The full-outer fusion join and the rank
    windows run on <= 2*pool rows (constant, driver-tier by
    construction) — at 100 TB both legs stay linear single-pass and
    the fusion cost is unchanged."""
    from simpleetlpipeline_spark.functions.text import bm25_doc_ranking

    lex_pool = bm25_doc_ranking(spark, sf_dir, k=pool)
    w_lex = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    lex = lex_pool.select(
        "doc_id", F.row_number().over(w_lex).cast("int").alias("r_lex"))

    vecs = _vectors(spark, sf_dir)
    probe = (vecs.filter(F.col("vec_id") == HYBRID_PROBE_ID)
             .select(F.col("e").alias("a_e"), F.col("nrm").alias("a_nrm")))
    scored = (vecs.filter(F.col("vec_id") != HYBRID_PROBE_ID)
              .crossJoin(F.broadcast(probe))
              .select(F.col("vec_id").alias("doc_id"),
                      cosine(F.col("a_e"), F.col("e"),
                             F.col("a_nrm"), F.col("nrm"))
                      .alias("cosine_sim")))
    vec_pool = (scored.orderBy(F.desc("cosine_sim"), F.asc("doc_id"))
                .limit(pool))
    w_vec = Window.orderBy(F.desc("cosine_sim"), F.asc("doc_id"))
    vec = vec_pool.select(
        "doc_id", F.row_number().over(w_vec).cast("int").alias("r_vec"))

    fused = lex.join(vec, "doc_id", "full_outer")
    leg = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(HYBRID_RRF_K)) + r.cast("double")),
        F.lit(0.0))
    return (fused
            .select("doc_id", "r_lex", "r_vec",
                    F.floor((leg(F.col("r_lex")) + leg(F.col("r_vec")))
                            * 1e9).cast("long").alias("rrf_nano"))
            .orderBy(F.desc("rrf_nano"), F.asc("doc_id"))
            .limit(k))


QUERIES = {
    "hybrid_rrf_search": hybrid_rrf_search,
    "ann_topk": ann_topk,
    "ann_lsh_topk": ann_lsh_topk,            # rows-only (SRP planes)
    "embedding_neardup": embedding_neardup,
    "embedding_neardup_lsh": embedding_neardup_lsh,  # rows-only
    "label_centroids": label_centroids,
}

# DuckDB twins. list_dot_product/list_cosine_similarity could differ
# in accumulation order, so the oracles spell out the same
# left-to-right double-precision fold Spark's aggregate() runs, via
# list_reduce over an index range — then apply the same 1e-4 floor.
_COS_SQL = """
    floor(
        list_reduce(
            list_transform(range(1, 65),
                           i -> CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)),
            (acc, x) -> acc + x)
        / (a.nrm * b.nrm) * 10000) / 10000
"""

_VECS_SQL = """
    SELECT vec_id, embedding AS e,
           sqrt(list_reduce(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, x) -> acc + x)) AS nrm
    FROM embeddings
"""

# Fast twins for the QUADRATIC oracles only (embedding_neardup,
# semantic_dedup_clusters): the interpreted list_reduce fold costs
# ~60x a native fixed-size-array dot product, which at sf1's 200M
# candidate pairs is the difference between an 8s oracle and one
# that cannot run (the two entries were documented sf1 sweep skips
# until round 9). array_inner_product on DOUBLE[64] is verified
# BIT-IDENTICAL to the in-order fold after the shared 4dp floor on
# the sf0.01/sf0.1 fixtures (tests/test_similarity.py::
# test_array_oracle_matches_fold_oracle); the linear oracles keep
# the fold form untouched (multi-round driver-green history).
_VECS_ARR_SQL = """
    SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS e,
           sqrt(list_reduce(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, x) -> acc + x)) AS nrm
    FROM embeddings
"""

_COS_ARR_SQL = """
    floor(array_inner_product(a.e, b.e) / (a.nrm * b.nrm) * 10000)
        / 10000
"""

def _hybrid_rrf_oracle(k: int = HYBRID_TOP_K,
                       pool: int = HYBRID_POOL) -> str:
    from simpleetlpipeline_spark.functions.text import BM25_SCORED_CTES

    return f"""
    WITH {BM25_SCORED_CTES},
    lexpool AS (
        SELECT doc_id, score_micro FROM bm25_docs
        ORDER BY score_micro DESC, doc_id ASC LIMIT {pool}
    ), lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score_micro DESC,
                                       doc_id ASC) AS INT) AS r_lex
        FROM lexpool
    ), v AS ({_VECS_SQL}),
    scoredv AS (
        SELECT b.vec_id AS doc_id, {_COS_SQL} AS cosine_sim
        FROM v b CROSS JOIN
             (SELECT * FROM v WHERE vec_id = {HYBRID_PROBE_ID}) a
        WHERE b.vec_id != {HYBRID_PROBE_ID}
    ), vecpool AS (
        SELECT * FROM scoredv
        ORDER BY cosine_sim DESC, doc_id ASC LIMIT {pool}
    ), vec AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine_sim DESC,
                                       doc_id ASC) AS INT) AS r_vec
        FROM vecpool
    ), fused AS (
        SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, r_lex, r_vec
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
    )
    SELECT doc_id, r_lex, r_vec,
           CAST(floor((COALESCE(1.0 / ({HYBRID_RRF_K}.0
                                       + CAST(r_lex AS DOUBLE)), 0.0)
                       + COALESCE(1.0 / ({HYBRID_RRF_K}.0
                                         + CAST(r_vec AS DOUBLE)), 0.0))
                      * 1e9) AS BIGINT) AS rrf_nano
    FROM fused
    ORDER BY rrf_nano DESC, doc_id ASC LIMIT {k}
"""


ORACLE_SQL = {
    "ann_topk": f"""
        WITH v AS ({_VECS_SQL}),
        scored AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   {_COS_SQL} AS cosine_sim
            FROM (SELECT * FROM v WHERE vec_id < {N_PROBES}) a
            CROSS JOIN v b
            WHERE a.vec_id != b.vec_id
        ), ranked AS (
            SELECT a_id, b_id, cosine_sim,
                   row_number() OVER (PARTITION BY a_id
                                      ORDER BY cosine_sim DESC, b_id ASC)
                       AS rank
            FROM scored
        )
        SELECT a_id, b_id, CAST(rank AS INT) AS rank, cosine_sim
        FROM ranked WHERE rank <= {TOP_K}
    """,
    "embedding_neardup": f"""
        WITH v AS ({_VECS_ARR_SQL})
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               {_COS_ARR_SQL} AS cosine_sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_COS_ARR_SQL} >= {NEARDUP_THRESHOLD}
    """,
    "label_centroids": """
        SELECT label,
               CAST(r.i - 1 AS INT) AS dim,
               floor(CAST(sum(CAST(floor(CAST(embedding[r.i] AS DOUBLE)
                                         * 1e8) AS BIGINT)) AS DOUBLE)
                     / (count(*) * 100.0)) / 1e6
                   AS centroid_val,
               count(*) AS n_vectors
        FROM embeddings, range(1, 65) AS r(i)
        GROUP BY 1, 2
    """,
}


def _centroid_cells(vecs: DataFrame) -> DataFrame:
    """Coarse quantizer for IVF: per-label mean vectors (labels are
    the deterministic stand-in for trained k-means centroids; a real
    deployment would fit centroids on a sample and broadcast them the
    same way).

    Shape: ONE hash aggregate with EMB_DIM positional `avg` buffers
    (the dim is a schema contract, so the unroll is static). The
    previous formulation posexploded to |corpus| x EMB_DIM rows and
    paid two shuffles plus a collect_list+array_sort reassembly; at
    100 TB that explode multiplies shuffle volume by the dim for no
    information gain — the per-position partial aggregates carry the
    same state in one pass. Values are bit-identical per position
    (same rows, same avg machinery), verified by the unchanged
    ann_ivf_topk value-hash oracle."""
    # One F.expr string instead of 64 unrolled F.avg(F.col(...)[i])
    # Column builds (round 12, guide §1): every Column operation is a
    # py4j round-trip, and this constructor's ~130 of them cost
    # ~0.45s of DRIVER time per query construction (measured —
    # ann_ivf_topk and ann_recall_report both pay it). The parsed
    # expression is the same array-of-avg aggregate; values are
    # bit-identical (attested by the unchanged value-hash oracle).
    cents = (
        vecs.groupBy(F.col("label").alias("cell"))
        .agg(F.expr(
            "array(" + ",".join(f"avg(e[{i}])" for i in range(EMB_DIM))
            + ")").alias("c"))
        .withColumn("c_nrm", l2_norm(F.col("c")))
    )
    return cents


def _assign_cells(vecs: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """Rank cells per vector by cosine to the centroid; keep the
    nearest `nprobe`.

    Round-12 rewrite (optimization guide §2.4): the centroid table
    collapses to ONE row carrying an array of (cell, c, c_nrm)
    structs, broadcast onto the vectors; each vector scores every
    cell with an in-array transform and keeps its top-`nprobe` via
    array_sort + slice — a fully NARROW assignment. The previous
    form crossJoined the |cells|-way expansion and ranked it with a
    row_number window partitioned by vec_id, which EXCHANGED the
    whole 64-dim corpus (and sorted it) just to pick each vector's
    nearest cells. The comparator reproduces the window's exact
    order — floored c_sim DESC, cell ASC — so assignments are
    bit-identical (attested by the unchanged ann_ivf_topk value-hash
    oracle; cosines are floored 4dp, so no NaN/null legs exist in
    this corpus contract for ordering to diverge on)."""
    cells_row = cents.agg(
        F.collect_list(F.struct("cell", "c", "c_nrm")).alias("__cells"))
    sims = F.transform(
        F.col("__cells"),
        lambda cc: F.struct(
            cosine(F.col("e"), cc["c"],
                   F.col("nrm"), cc["c_nrm"]).alias("c_sim"),
            cc["cell"].alias("cell")))
    cmp = lambda l, r: (  # noqa: E731 — c_sim DESC, cell ASC
        F.when(l["c_sim"] > r["c_sim"], F.lit(-1))
        .when(l["c_sim"] < r["c_sim"], F.lit(1))
        .when(l["cell"] < r["cell"], F.lit(-1))
        .when(l["cell"] > r["cell"], F.lit(1))
        .otherwise(F.lit(0)))
    top = F.slice(F.array_sort(sims, cmp), 1, nprobe)
    return (
        vecs.crossJoin(F.broadcast(cells_row))
        .select("vec_id", "e", "nrm", F.explode(top).alias("__t"))
        .select("vec_id", "e", "nrm", F.col("__t.cell").alias("cell"))
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str,
                 n_probes: int = N_PROBES, k: int = TOP_K,
                 nprobe: int = 3) -> DataFrame:
    """IVF-style ANN: corpus vectors live in their nearest-centroid
    cell (inverted list); each probe searches only its `nprobe`
    nearest cells, then exact cosine re-ranks the candidates.

    The other classic ANN scale path next to LSH: candidate volume is
    ~corpus * nprobe/|cells| per probe, an equi-join on cell id —
    never all-pairs. Recall vs the exact ann_topk is unit-tested.

    Round-12 note (optimization guide §1): persisting `vecs` was
    tried (the broadcast subtrees re-derive the scan + fan_out
    several times) and MEASURED SLOWER at sf0.1 (2.2s -> 2.4s min):
    the cache write costs more than the cheap columnar re-scans it
    saves, so the rescans stay.
    """
    vecs = _vectors(spark, sf_dir)
    cents = _centroid_cells(vecs)
    corpus_cells = _assign_cells(vecs, cents, nprobe=1).select(
        F.col("vec_id").alias("b_id"), F.col("e").alias("b_e"),
        F.col("nrm").alias("b_nrm"), "cell")
    probe_cells = _assign_cells(
        vecs.filter(F.col("vec_id") < n_probes), cents, nprobe=nprobe
    ).select(F.col("vec_id").alias("a_id"), F.col("e").alias("a_e"),
             F.col("nrm").alias("a_nrm"), "cell")
    scored = (
        corpus_cells.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id",
                cosine(F.col("a_e"), F.col("b_e"),
                       F.col("a_nrm"), F.col("b_nrm")).alias("cosine_sim"))
        .dropDuplicates(["a_id", "b_id"])
    )
    return _topk_per_probe(scored, k).select("a_id", "b_id", "rank", "cosine_sim")


QUERIES["ann_ivf_topk"] = ann_ivf_topk

# IVF is fully deterministic (centroids are per-label means, not
# sampled k-means), so unlike the SRP-LSH family it has an exact
# DuckDB twin: rebuild the centroids, assign cells with the same
# floored-cosine + cell-asc ranking, and re-rank candidates with the
# same fold order. Centroid avgs are compared un-floored — a ulp
# difference could only flip an assignment if two floored cosines
# collide exactly at a 1e-4 grid boundary (verified stable on the
# test corpus).
_CENT_COS = """
    floor(
        list_reduce(
            list_transform(range(1, 65),
                           i -> CAST(v.e[i] AS DOUBLE) * c.c[i]),
            (acc, x) -> acc + x)
        / (v.nrm * c.c_nrm) * 10000) / 10000
"""

ORACLE_SQL["hybrid_rrf_search"] = _hybrid_rrf_oracle()

ORACLE_SQL["ann_ivf_topk"] = f"""
    WITH v AS ({_VECS_SQL}),
    cd AS (
        SELECT label, r.i AS i,
               avg(CAST(embedding[r.i] AS DOUBLE)) AS cv
        FROM embeddings, range(1, 65) AS r(i)
        GROUP BY 1, 2
    ), cent AS (
        SELECT label AS cell, list(cv ORDER BY i) AS c
        FROM cd GROUP BY label
    ), centn AS (
        SELECT cell, c,
               sqrt(list_reduce(list_transform(c, x -> x * x),
                                (acc, x) -> acc + x)) AS c_nrm
        FROM cent
    ), assign AS (
        SELECT v.vec_id, v.e, v.nrm, c.cell,
               {_CENT_COS} AS c_sim
        FROM v CROSS JOIN centn c
    ), ranked_cells AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY c_sim DESC, cell ASC) AS cr
        FROM assign
    ), corpus AS (
        SELECT vec_id AS b_id, e AS b_e, nrm AS b_nrm, cell
        FROM ranked_cells WHERE cr = 1
    ), probes AS (
        SELECT vec_id AS a_id, e AS a_e, nrm AS a_nrm, cell
        FROM ranked_cells WHERE vec_id < {N_PROBES} AND cr <= 3
    ), scored AS (
        SELECT a_id, b_id,
               floor(
                   list_reduce(
                       list_transform(range(1, 65),
                                      i -> CAST(a_e[i] AS DOUBLE)
                                           * CAST(b_e[i] AS DOUBLE)),
                       (acc, x) -> acc + x)
                   / (a_nrm * b_nrm) * 10000) / 10000 AS cosine_sim
        FROM probes JOIN corpus USING (cell)
        WHERE a_id != b_id
    ), ranked AS (
        SELECT a_id, b_id, cosine_sim,
               row_number() OVER (PARTITION BY a_id
                                  ORDER BY cosine_sim DESC, b_id ASC)
                   AS rank
        FROM scored
    )
    SELECT a_id, b_id, CAST(rank AS INT) AS rank, cosine_sim
    FROM ranked WHERE rank <= {TOP_K}
"""


# ------------------------------------------------------ quantization

#: Symmetric int8 range: q = floor(x / (max|x| / 127)) in [-128, 127].
QUANT_LEVELS = 127


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization manifest — the
    compression step an ANN index or embedding cache applies before
    storage (4x smaller than float32, 8x smaller than the double
    compute form).

    Per vector: scale = max|x| / 127, q_i = floor(x_i / scale).
    Emits the floored scale plus integer digests of the quantized
    vector (sum / min / max). Integer digests are exact cross-engine
    (no float-sum ordering hazard), and floor(x/scale) is bit-stable
    because both engines do the same IEEE-754 double divide on
    identical float32-widened inputs. Narrow projection — no shuffle
    at any scale.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    e = as_double_vec(F.col("embedding"))
    absmax = F.array_max(F.transform(e, F.abs))
    scale = absmax / QUANT_LEVELS
    # Degenerate all-zero vector: scale would be 0 and 0.0/0.0 is
    # engine-dependent (IEEE NaN vs NULL), so divide by a guarded
    # scale instead — every component is 0, so q_i = floor(0/1) = 0
    # in both engines by construction. Same guard in the oracle.
    safe_scale = F.when(absmax == 0, F.lit(1.0)).otherwise(scale)
    q = F.transform(e, lambda x: F.floor(x / safe_scale).cast("long"))
    return emb.select(
        "vec_id",
        (F.floor(scale * 1000000) / 1000000).alias("scale6"),
        F.aggregate(q, F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


QUERIES["embedding_quantize"] = embedding_quantize

ORACLE_SQL["embedding_quantize"] = f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), s AS (
        SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x)))
                   / {QUANT_LEVELS} AS scale
        FROM v
    ), q AS (
        SELECT vec_id, scale,
               list_transform(e, x -> CAST(floor(
                   x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)
               ) AS BIGINT)) AS qv
        FROM s
    )
    SELECT vec_id,
           floor(scale * 1000000) / 1000000 AS scale6,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max
    FROM q
"""


def _exact_pairs_blocked(spark: SparkSession, sf_dir: str,
                         threshold: float,
                         max_bytes: int = EXACT_NEARDUP_MAX_BYTES
                         ) -> DataFrame:
    """Exact all-pairs threshold edges via blocked matrix product:
    the corpus matrix broadcasts (size-gated, same contract as
    embedding_neardup), each task scores an Arrow batch of row ids
    against the whole matrix with one normalized BLAS product, and
    only the surviving (a_id < b_id) edges come back.

    Same O(n^2) compute as embedding_neardup but ~30x cheaper per
    pair: one dgemm against 2 x n x dim interpreted JVM folds per
    pair, and the only rows that ever cross the wire are actual
    edges. Emits the THRESHOLD DECISION only (no cosine column):
    callers that need hash-stable cosine values (the oracled
    embedding_neardup) keep the JVM fold, whose float order DuckDB
    reproduces exactly; a >= threshold decision is float-order-safe
    for any threshold not sitting inside the two folds' noise band.
    """
    n_bytes = _table_bytes(sf_dir, "embeddings")
    if n_bytes > max_bytes:
        raise ValueError(
            f"exact all-pairs scoring broadcasts the full corpus "
            f"({n_bytes} bytes > max_bytes={max_bytes}); use "
            f"embedding_neardup_lsh-shaped blocking at this scale")
    vecs = _vectors(spark, sf_dir)
    pdf = (vecs.select("vec_id", "e", "nrm").toPandas()
           .sort_values("vec_id").reset_index(drop=True))
    ids_sorted = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["e"].to_numpy()).astype(np.float64)
    mat = mat / pdf["nrm"].to_numpy().astype(np.float64)[:, None]
    bc = spark.sparkContext.broadcast((ids_sorted, mat))

    def score(batches):
        ids_b, m = bc.value
        for pdf_b in batches:
            row_ids = pdf_b["vec_id"].to_numpy()
            ia = np.searchsorted(ids_b, row_ids)
            sims = m[ia] @ m.T
            bi, bj = np.nonzero(sims >= threshold)
            keep = ids_b[bj] > row_ids[bi]
            yield pd.DataFrame({"a_id": row_ids[bi][keep],
                                "b_id": ids_b[bj][keep]})

    return vecs.select("vec_id").mapInPandas(
        score, "a_id long, b_id long")


def semantic_dedup_clusters(spark: SparkSession, sf_dir: str,
                            threshold: float = NEARDUP_THRESHOLD) -> DataFrame:
    """SemDeDup-shaped semantic dedup: cluster the embedding near-dup
    pair graph into connected components and emit the keep/drop
    manifest (canonical = min vec_id per component, full sorted
    member list) — the embedding-space twin of the text pipeline's
    dedup_clusters_exact, sharing its connected_components engine
    (driver union-find below the edge threshold, distributed
    min-label propagation above).

    This composition is the capability a training-data pipeline
    actually runs: near-dup PAIRS alone over-remove (dropping both
    ends) or under-remove (keeping chains); the component manifest
    keeps exactly one representative per semantic cluster. The pair
    stage is the blocked-BLAS exact scorer (_exact_pairs_blocked —
    only membership matters here, not hash-stable cosine values); at
    scale swap it for embedding_neardup_lsh — identical pair
    contract, linear shuffle — with no change here.
    """
    from simpleetlpipeline_spark.functions.dedup import connected_components

    pairs = _exact_pairs_blocked(spark, sf_dir, threshold)
    comps = connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(
            F.min("node").alias("keep_vec_id"),
            F.count(F.lit(1)).alias("cluster_size"),
            F.concat_ws(",", F.array_sort(F.collect_list("node"))
                        .cast("array<string>")).alias("members"),
        )
        .select("keep_vec_id", "cluster_size", "members")
    )


QUERIES["semantic_dedup_clusters"] = semantic_dedup_clusters

def _cc_label_prop_sql(rounds: int = 24) -> str:
    """Connected-components tail for an oracle whose CTE chain has
    already defined ``sym(a, b)`` (symmetric edge list): min-label
    propagation with a label-pointer jump, unrolled `rounds` times.

    The round-5 oracle enumerated full reachability with a recursive
    CTE — |component|^2 rows, which on sf1's one giant ~20k-node
    component is 400M rows and was one of the three documented sf1
    sweep skips. Per unrolled round every node takes the min label
    over {self} ∪ neighbors (propagation, +1 hop) and then jumps to
    its label's label (path halving). Measured coverage is ~2 hops
    per round along worst-case chains (the sf0.1 fixture's
    diameter-22 component converges in 11 rounds; sf1's giant
    component, diameter 8, in 4), so 24 rounds cover diameter ~48 —
    2x any fixture's worst. The margin is SAFE, not assumed: an
    under-converged unroll CANNOT pass silently, because surplus
    components disagree with Spark's exact union-find output and
    the hash compare reds (exactly how the 8-round draft was caught
    at sf0.1). Belt-and-braces (round-9 ADVICE): the final SELECT
    also appends an explicit sentinel row
    ('ORACLE_NOT_CONVERGED_RAISE_ROUNDS') whenever l{rounds} still
    differs from l{rounds-1}, so a future longer-diameter fixture
    produces a DIAGNOSABLE red naming the fix instead of a
    confusing surplus-component hash mismatch. Every CTE is
    MATERIALIZED — DuckDB inlines CTEs by
    default, and each round references its predecessor twice, which
    would make the inlined expansion (and its parquet re-scans)
    exponential."""
    ctes = ["nodes AS MATERIALIZED (SELECT DISTINCT a AS n FROM sym)",
            "l0 AS MATERIALIZED (SELECT n, n AS l FROM nodes)"]
    for r in range(1, rounds + 1):
        ctes.append(f"""p{r} AS MATERIALIZED (
        SELECT n, min(l) AS l FROM (
            SELECT n, l FROM l{r - 1}
            UNION ALL
            SELECT s.a AS n, t.l AS l
            FROM sym s JOIN l{r - 1} t ON t.n = s.b
        ) GROUP BY n)""")
        ctes.append(f"""l{r} AS MATERIALIZED (
        SELECT x.n, least(x.l, y.l) AS l
        FROM p{r} x JOIN p{r} y ON y.n = x.l)""")
    return (", ".join(ctes) + f"""
    SELECT CAST(l AS BIGINT) AS keep_vec_id,
           CAST(count(*) AS BIGINT) AS cluster_size,
           string_agg(CAST(n AS VARCHAR), ',' ORDER BY n) AS members
    FROM l{rounds} GROUP BY l
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
           'ORACLE_NOT_CONVERGED_RAISE_ROUNDS'
    WHERE EXISTS (
        SELECT 1 FROM l{rounds} x JOIN l{rounds - 1} y ON y.n = x.n
        WHERE x.l <> y.l)""")


ORACLE_SQL["semantic_dedup_clusters"] = f"""
    WITH v AS MATERIALIZED ({_VECS_ARR_SQL}),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_COS_ARR_SQL} >= {NEARDUP_THRESHOLD}
    ), sym AS MATERIALIZED (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ), {_cc_label_prop_sql()}
"""


OUTLIER_TOP_K = 5


def embedding_outliers(spark: SparkSession, sf_dir: str,
                       top_k: int = OUTLIER_TOP_K) -> DataFrame:
    """Per-label embedding outliers: the `top_k` vectors farthest
    (squared L2) from their label's centroid — the embedding-space QA
    scan that surfaces mislabeled or corrupted vectors before they
    poison a classifier or contaminate a semantic-dedup threshold.

    Determinism: the centroid is the FLOORED (6dp) per-dim mean —
    the same canonical value label_centroids publishes — so the
    distance is a fixed in-order fold over identical doubles in both
    engines (F.aggregate here, list_reduce in the oracle; 0.0+x == x
    makes the two folds element-identical). Ranking breaks distance
    ties on vec_id.

    Plan: one posexplode agg builds |labels|x|dims| centroids, which
    reassemble into |labels| array rows and BROADCAST onto the
    corpus — the scan stays narrow (no shuffle of the vectors), and
    the only wide op is the per-label top-k window over float
    distances. At 100 TB that window is the bottleneck: each label's
    vectors meet in one sort — swap in a two-phase top-k (per-
    partition heads via groupBy(label, salt), then merge), the same
    rewrite ann_topk ships; the window form is the oracle-checkable
    tier.
    """
    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    centroids = (
        emb.select("label", F.posexplode(as_double_vec(F.col("embedding")))
                   .alias("dim", "v"))
        .groupBy("label", "dim")
        # exact int64-sum mean, same contract as label_centroids
        .agg(F.sum(F.floor(F.col("v") * 1e8).cast("long")).alias("__sq"),
             F.count(F.lit(1)).alias("__n"))
        .select("label", "dim",
                (F.floor(F.col("__sq") / (F.col("__n") * F.lit(100.0)))
                 / 1e6).alias("cv"))
        .groupBy("label")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))),
            lambda s: s["cv"]).alias("centroid"))
    )
    diff2 = F.zip_with(
        as_double_vec(F.col("embedding")), F.col("centroid"),
        lambda x, c: (x - c) * (x - c))
    dist2 = F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)
    scored = (
        emb.join(F.broadcast(centroids), "label")
        .select("label", "vec_id",
                (F.floor(dist2 * 1e6) / 1e6).alias("dist2"))
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist2"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("label", "vec_id", "dist2",
                F.col("rank").cast("int").alias("rank"))
    )


QUERIES["embedding_outliers"] = embedding_outliers

ORACLE_SQL["embedding_outliers"] = f"""
    WITH dims AS (
        SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, range(1, 65) AS r(i)
    ), cent AS (
        SELECT label, dim,
               floor(CAST(sum(CAST(floor(v * 1e8) AS BIGINT)) AS DOUBLE)
                     / (count(*) * 100.0)) / 1e6 AS cv
        FROM dims GROUP BY 1, 2
    ), carr AS (
        SELECT label, list(cv ORDER BY dim) AS centroid
        FROM cent GROUP BY 1
    ), scored AS (
        SELECT e.label, e.vec_id,
               floor(list_reduce(
                   list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE)
                             - c.centroid[i])
                            * (CAST(e.embedding[i] AS DOUBLE)
                               - c.centroid[i])),
                   (acc, x) -> acc + x) * 1e6) / 1e6 AS dist2
        FROM embeddings e JOIN carr c USING (label)
    )
    SELECT label, vec_id, dist2, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT label, vec_id, dist2,
               row_number() OVER (PARTITION BY label
                                  ORDER BY dist2 DESC, vec_id ASC)
                   AS rank
        FROM scored
    ) WHERE rank <= {OUTLIER_TOP_K}
"""


#: The synthetic embeddings are seeded gaussians with NO planted
#: probe contamination, so the catalog entry sets the threshold at
#: the noise tail (max random cosine ~0.49 at sf0.01) to keep the
#: manifest non-empty; a real deployment with planted/real leakage
#: runs 0.95+. The planted-contamination pytest covers that regime.
SEMDECON_THRESHOLD = 0.4
SEMDECON_N_PROBES = 20


def semantic_decontaminate(spark: SparkSession, sf_dir: str,
                           threshold: float = SEMDECON_THRESHOLD,
                           n_probes: int = SEMDECON_N_PROBES) -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus vectors
    whose cosine similarity to ANY held-out probe (vec_id <
    n_probes) reaches `threshold` — the semantic sibling of the
    n-gram `decontaminate` (curation.py), catching paraphrased or
    reformatted benchmark leakage that exact n-gram overlap misses.
    Output is the contaminated manifest: each flagged vector, its
    closest probe, and the similarity (max over probes, ties to the
    lowest probe id).

    Plan shape is ann_topk's: probes broadcast, one narrow cosine
    projection over the corpus scan, per-vector max — linear in the
    corpus with NO shuffle of the vectors themselves (the only
    exchange is the per-vector argmax agg keyed by vec_id, and at
    100 TB the probe set is still benchmark-sized: thousands, not
    millions — if it outgrows a broadcast, the LSH band join
    (embedding_neardup_lsh) is the same-semantics scale path).

    Determinism: cosine floored at 1e-4 in both engines (module
    contract); argmax by (sim DESC, probe id ASC) via one struct
    max, no window.
    """
    vecs = _vectors(spark, sf_dir)
    probes = (
        vecs.filter(F.col("vec_id") < n_probes)
        .select(F.col("vec_id").alias("probe_id"),
                F.col("e").alias("p_e"), F.col("nrm").alias("p_nrm"))
    )
    corpus = (
        vecs.filter(F.col("vec_id") >= n_probes)
        .select(F.col("vec_id"), F.col("e"), F.col("nrm"))
    )
    scored = (
        corpus.crossJoin(F.broadcast(probes))
        .select("vec_id", "probe_id",
                cosine(F.col("p_e"), F.col("e"),
                       F.col("p_nrm"), F.col("nrm")).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    best = F.max(F.struct(F.col("sim"),
                          (-F.col("probe_id")).alias("neg_probe")))
    return (
        scored.groupBy("vec_id")
        .agg(best.alias("b"),
             F.count(F.lit(1)).alias("n_probes_hit"))
        .select("vec_id",
                (-F.col("b.neg_probe")).cast("long").alias("closest_probe"),
                F.col("b.sim").alias("similarity"),
                "n_probes_hit")
    )


QUERIES["semantic_decontaminate"] = semantic_decontaminate

ORACLE_SQL["semantic_decontaminate"] = f"""
    WITH v AS ({_VECS_SQL}),
    scored AS (
        SELECT b.vec_id AS vec_id, a.vec_id AS probe_id,
               {_COS_SQL} AS sim
        FROM (SELECT * FROM v WHERE vec_id < {SEMDECON_N_PROBES}) a
        CROSS JOIN (SELECT * FROM v
                    WHERE vec_id >= {SEMDECON_N_PROBES}) b
    ), hits AS (
        SELECT * FROM scored WHERE sim >= {SEMDECON_THRESHOLD}
    )
    , agg AS (
        SELECT vec_id, max(sim) AS similarity,
               count(*) AS n_probes_hit
        FROM hits GROUP BY 1
    )
    SELECT a.vec_id,
           CAST(min(h.probe_id) AS BIGINT) AS closest_probe,
           a.similarity, a.n_probes_hit
    FROM agg a JOIN hits h
      ON h.vec_id = a.vec_id AND h.sim = a.similarity
    GROUP BY a.vec_id, a.similarity, a.n_probes_hit
"""


PQ_M = 8          # subspaces (64 dims -> 8 x 8)
PQ_SUB = 64 // PQ_M
PQ_K = 16         # codes per subspace
PQ_N_PROBES = 10
PQ_TOP_K = 10


def pq_ann_topk(spark: SparkSession, sf_dir: str,
                n_probes: int = PQ_N_PROBES,
                k: int = PQ_TOP_K) -> DataFrame:
    """Product-quantization ANN — the third classic ANN family next
    to IVF (ann_ivf_topk) and LSH (ann_lsh_topk): every corpus
    vector compresses to PQ_M one-byte codes (its nearest codebook
    entry per 8-dim subspace), and each probe searches by ADC
    (asymmetric distance computation) — one 8x16 lookup table per
    probe, so scoring a vector is 8 table lookups + adds instead of
    64 multiplies, over an 8-byte code instead of a 256-byte vector.
    That 32x memory compression is the point at 100 TB: the code
    table fits where the vectors never could.

    Determinism: per-subspace distances fold sequentially in BOTH
    engines (explicit accumulation loop in the Arrow kernel,
    list_reduce in the oracle), code argmin ties go to the lower
    code id, and ADC totals are int64 fixed-point (1e-9 units)
    summed exactly — rank order can't wobble with partitioning.

    Plan: codes are one Arrow-batched pass over the corpus (narrow,
    no shuffle); the probe ADC tables ride as ONE parsed literal
    array exploded in-row (round 13, guide §2.4/§5 — the previous
    crossJoin(broadcast(createDataFrame(rows))) paid a 32-task
    pickled-RDD job to ship 10 driver rows plus a BroadcastExchange
    job, both pure fixed cost); top-k is a per-probe window over
    n_probes tiny groups. The codebook and probe collects share one
    TakeOrdered job: every vec_id < n_probes row is by construction
    among the PQ_K lowest vec_ids (unique ids, n_probes <= PQ_K).
    """
    assert n_probes <= PQ_K, "probe rows must lie within the codebook rows"
    head = (read_table(spark, sf_dir, "embeddings")
            .orderBy("vec_id").limit(PQ_K)
            .select("vec_id", as_double_vec(F.col("embedding")).alias("e"))
            .collect())
    cb = [list(r["e"]) for r in head]  # PQ_K x 64

    emb = _vectors(spark, sf_dir).filter(F.col("vec_id") >= PQ_K)

    @F.pandas_udf("array<int>")
    def encode(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="object")
        mat = np.array(e.tolist(), dtype=np.float64)  # n x 64
        cent = np.array(cb, dtype=np.float64)         # K x 64
        out = np.empty((mat.shape[0], PQ_M), dtype=np.int32)
        for m in range(PQ_M):
            lo = m * PQ_SUB
            # sequential accumulation over j — matches the oracle's
            # list_reduce fold exactly (numpy .sum() is pairwise)
            d = np.zeros((mat.shape[0], PQ_K))
            for j in range(PQ_SUB):
                diff = mat[:, lo + j, None] - cent[None, :, lo + j]
                d = d + diff * diff
            out[:, m] = d.argmin(axis=1)  # first min: lower code wins
        return pd.Series(list(out))

    codes = emb.select(
        F.col("vec_id").alias("b_id"),
        encode(F.col("e")).alias("codes"))

    table_rows = []
    for p in head:
        if p["vec_id"] >= n_probes:
            continue
        pe = list(p["e"])
        flat = []
        for m in range(PQ_M):
            lo = m * PQ_SUB
            for c in range(PQ_K):
                d = 0.0
                for j in range(PQ_SUB):
                    x = pe[lo + j] - cb[c][lo + j]
                    d = d + x * x
                flat.append(int(math.floor(d * 1e9)))
        table_rows.append((p["vec_id"], flat))
    if not table_rows:  # no probe rows: array() would not be a struct array
        return driver_rows_df(
            spark, [], "a_id long, b_id long, rank int, dist9 long")
    # One parsed literal (a single py4j round-trip, like the kmeans
    # positional-avg aggregate): n_probes structs of (a_id, 128-long
    # ADC table), exploded per corpus row — the in-row form of the
    # former broadcast crossJoin.
    tables_lit = F.expr("array(" + ",".join(
        "named_struct('a_id', {}L, 't', array({}))".format(
            aid, ",".join(f"{v}L" for v in flat))
        for aid, flat in table_rows) + ")")

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc + F.element_at(
            F.col("t"), (m * PQ_K
                         + F.element_at(F.col("codes"), m + 1)
                         + 1).cast("int")))
    scored = (
        codes.select("b_id", "codes",
                     F.explode(tables_lit).alias("__p"))
        .select(F.col("__p.a_id").alias("a_id"), "b_id",
                F.col("__p.t").alias("t"), "codes")
        .select("a_id", "b_id", adc.alias("dist9"))
    )
    w = Window.partitionBy("a_id").orderBy(F.asc("dist9"), F.asc("b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("a_id", "b_id", F.col("rank").cast("int").alias("rank"),
                "dist9")
    )


QUERIES["pq_ann_topk"] = pq_ann_topk


def _pq_sub_dist(a: str, b: str) -> str:
    """Sequential squared-L2 fold over one 8-dim subspace (1-based
    m.m*8+j indexing), matching the kernels' accumulation order."""
    return f"""list_reduce(
        list_transform(range(1, {PQ_SUB + 1}),
            j -> (CAST({a}[m.m * {PQ_SUB} + j] AS DOUBLE)
                  - CAST({b}[m.m * {PQ_SUB} + j] AS DOUBLE))
                 * (CAST({a}[m.m * {PQ_SUB} + j] AS DOUBLE)
                    - CAST({b}[m.m * {PQ_SUB} + j] AS DOUBLE))),
        (acc, x) -> acc + x)"""


ORACLE_SQL["pq_ann_topk"] = f"""
    WITH cb AS (
        SELECT vec_id AS c, embedding AS e FROM embeddings
        WHERE vec_id < {PQ_K}
    ), corpus AS (
        SELECT vec_id, embedding AS e FROM embeddings
        WHERE vec_id >= {PQ_K}
    ), pr AS (
        SELECT vec_id, embedding AS e FROM embeddings
        WHERE vec_id < {PQ_N_PROBES}
    ), subs AS (SELECT unnest(range(0, {PQ_M})) AS m),
    cd AS (
        SELECT corpus.vec_id AS b_id, m.m, cb.c,
               {_pq_sub_dist('corpus.e', 'cb.e')} AS d
        FROM corpus CROSS JOIN subs m CROSS JOIN cb
    ), codes AS (
        SELECT b_id, m, c AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY b_id, m
                                         ORDER BY d ASC, c ASC) AS rn
            FROM cd) WHERE rn = 1
    ), pt AS (
        SELECT pr.vec_id AS a_id, m.m, cb.c,
               CAST(floor({_pq_sub_dist('pr.e', 'cb.e')} * 1e9)
                    AS BIGINT) AS d9
        FROM pr CROSS JOIN subs m CROSS JOIN cb
    ), adc AS (
        SELECT pt.a_id, codes.b_id,
               CAST(sum(pt.d9) AS BIGINT) AS dist9
        FROM codes JOIN pt ON pt.m = codes.m AND pt.c = codes.code
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, CAST(rank AS INTEGER) AS rank, dist9
    FROM (
        SELECT a_id, b_id, dist9,
               row_number() OVER (PARTITION BY a_id
                                  ORDER BY dist9 ASC, b_id ASC) AS rank
        FROM adc
    ) WHERE rank <= {PQ_TOP_K}
"""


RECALL_K = 10


def ann_recall_report(spark: SparkSession, sf_dir: str,
                      k: int = RECALL_K) -> DataFrame:
    """The evaluation every ANN deployment runs before trusting an
    index: recall@k of each approximate method (IVF, LSH; PQ ranks
    a disjoint corpus universe — codebook vectors excluded — so its
    recall is covered by its own planted-copy test instead)
    against the exact cosine top-k, on the same probes — one row per
    method with mean recall and the probe count. The exact method is
    included as its own row (recall 1.0 by construction — the
    harness's self-check).

    Rows-only in the gate (the LSH band hashes are seeded
    engine-specific state); the pytest pins exact==1.0, bounds, and
    that every method returns all probes. Scale: each method's
    top-k frame is |probes| x k; the join+agg here is trivial
    against the index costs themselves.
    """
    # the exact scorer is the expensive stage; persist ONE copy and
    # reuse it both as ground truth (probed once per method) and as
    # the self-check method row — without this the O(|probes| x n)
    # crossJoin pipeline re-ran from the scan ~4x for identical rows
    exact_topk = track(ann_topk(spark, sf_dir, k=k).persist())
    # disjoint column names on each side: the exact method row joins
    # the persisted frame with ITSELF, and same-lineage a_id == a_id
    # would resolve trivially true instead of as the probe equi-join
    exact = exact_topk.select(F.col("a_id").alias("t_aid"),
                              F.col("b_id").alias("truth"))
    methods = {
        "exact": exact_topk,
        "ivf": ann_ivf_topk(spark, sf_dir, k=k),
        "lsh": ann_lsh_topk(spark, sf_dir, k=k),
    }
    reports = []
    for name, df in methods.items():
        got = df.select(F.col("a_id").alias("g_aid"),
                        F.col("b_id").alias("guess"))
        hits = (exact.join(got, (F.col("t_aid") == F.col("g_aid"))
                           & (F.col("truth") == F.col("guess")))
                .groupBy("t_aid").agg(F.count(F.lit(1)).alias("h")))
        per_probe = (exact.select("t_aid").distinct()
                     .join(hits, "t_aid", "left")
                     .select((F.coalesce("h", F.lit(0)) / k).alias("r")))
        reports.append(per_probe.agg(
            F.lit(name).alias("method"),
            F.count(F.lit(1)).alias("n_probes"),
            (F.floor(F.avg("r") * 10000) / 10000).alias("recall_at_k")))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("method")


QUERIES["ann_recall_report"] = ann_recall_report  # rows-only (LSH seeds)


INCR_BATCH_MOD = 10  # vec_id % 10 == 0 plays the newly-appended batch


def ann_incremental_topk(spark: SparkSession, sf_dir: str,
                         n_probes: int = N_PROBES,
                         k: int = TOP_K) -> DataFrame:
    """Incremental top-k maintenance (the interactive-session top-k
    idea from the EDBT'20 incremental-similarity line): the corpus
    splits into a BASE and a newly-appended BATCH (vec_id %
    INCR_BATCH_MOD == 0 stands in for the nightly embedding append);
    the maintained answer is a RE-RANK of (base top-k ∪ batch
    top-k) per probe. This is provably exact, not approximate: under
    any total order (cosine DESC, b_id ASC), every member of the
    global top-k belongs to the top-k of whichever part it came from
    — so the merge can never miss, and the DuckDB oracle runs the
    FULL recompute to hold the incremental path to exact equality.

    At 100 TB the difference is the whole point: the append scores
    |probes| x |batch| rows and re-ranks <= 2k survivors per probe
    instead of rescoring the corpus; the base top-k is the cached
    artifact from the previous run (recomputed here so the entry is
    self-contained and stateless under the gate)."""
    vecs = _vectors(spark, sf_dir)
    probes = (
        vecs.filter(F.col("vec_id") < n_probes)
        .select(F.col("vec_id").alias("a_id"), F.col("e").alias("a_e"),
                F.col("nrm").alias("a_nrm"))
    )

    def scored(part: DataFrame) -> DataFrame:
        corpus = part.select(F.col("vec_id").alias("b_id"),
                             F.col("e").alias("b_e"),
                             F.col("nrm").alias("b_nrm"))
        return (
            corpus.crossJoin(F.broadcast(probes))
            .filter(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id",
                    cosine(F.col("a_e"), F.col("b_e"),
                           F.col("a_nrm"), F.col("b_nrm"))
                    .alias("cosine_sim"))
        )

    base_top = _topk_per_probe(
        scored(vecs.filter(F.col("vec_id") % INCR_BATCH_MOD != 0)), k)
    batch_top = _topk_per_probe(
        scored(vecs.filter(F.col("vec_id") % INCR_BATCH_MOD == 0)), k)
    merged = base_top.select("a_id", "b_id", "cosine_sim").unionByName(
        batch_top.select("a_id", "b_id", "cosine_sim"))
    return (
        _topk_per_probe(merged, k)
        .select("a_id", "b_id", "rank", "cosine_sim")
    )


QUERIES["ann_incremental_topk"] = ann_incremental_topk

# full-recompute oracle: equality PROVES the incremental merge exact
ORACLE_SQL["ann_incremental_topk"] = f"""
    WITH v AS ({_VECS_SQL}),
    scored AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               {_COS_SQL} AS cosine_sim
        FROM (SELECT * FROM v WHERE vec_id < {N_PROBES}) a
        CROSS JOIN v b
        WHERE a.vec_id != b.vec_id
    ), ranked AS (
        SELECT a_id, b_id, cosine_sim,
               row_number() OVER (PARTITION BY a_id
                                  ORDER BY cosine_sim DESC, b_id ASC)
                   AS rank
        FROM scored
    )
    SELECT a_id, b_id, CAST(rank AS INT) AS rank, cosine_sim
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY a_id, rank
"""

def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding table: count, mean,
    variance, min, max for each of the 64 coordinates — the feature
    screen run before similarity search or training (a dead or
    exploding dimension poisons cosine distances and whitening
    alike; this is feature_scaling_stats for vector columns).

    Determinism: components quantize to int64 at 1e-8 per row (the
    module's float contract); the mean divides the exact q8 sum; the
    variance derives from exact operands n*sum(q^2) - sum(q)^2 held
    as DECIMAL(38,0) (q^2 ~ 1e16 overflows int64 within 1e3 rows),
    then one double division floored at micro. Min/max are exact q8
    integers.

    Shape: posexplode -> ONE hash aggregate keyed by dim (64 groups,
    map-side combined) — shuffle volume is 64 rows of partials per
    task at any corpus size."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    d38 = "decimal(38,0)"
    q = F.floor(F.col("v") * 1e8).cast("long")
    agg = (
        emb.select(F.posexplode(as_double_vec(F.col("embedding")))
                   .alias("dim", "v"))
        .select("dim", q.alias("q"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"),
             F.sum("q").cast("long").alias("sum_q8"),
             F.sum(F.col("q").cast(d38) * F.col("q").cast(d38))
             .alias("__sq2"),
             F.min("q").cast("long").alias("min_q8"),
             F.max("q").cast("long").alias("max_q8"))
    )
    n = F.col("n_vectors").cast(d38)
    var_num = (n * F.col("__sq2")
               - F.col("sum_q8").cast(d38) * F.col("sum_q8").cast(d38))
    return agg.select(
        "dim", "n_vectors", "sum_q8",
        (F.floor(F.col("sum_q8") / (F.col("n_vectors") * F.lit(100.0)))
         / 1e6).alias("mean_val"),
        F.floor(var_num.cast("double")
                / F.col("n_vectors").cast("double")
                / F.col("n_vectors").cast("double")
                / 1e16 * 1e6).cast("bigint").alias("var_micro"),
        "min_q8", "max_q8",
    ).orderBy("dim")


QUERIES["embedding_dim_stats"] = embedding_dim_stats

ORACLE_SQL["embedding_dim_stats"] = """
    WITH q AS (
        SELECT CAST(r.i - 1 AS INT) AS dim,
               CAST(floor(CAST(embedding[r.i] AS DOUBLE) * 1e8)
                    AS BIGINT) AS q
        FROM embeddings, range(1, 65) AS r(i)
    ), agg AS (
        SELECT dim,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(q) AS BIGINT) AS sum_q8,
               sum(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0)))
                   AS sq2,
               CAST(min(q) AS BIGINT) AS min_q8,
               CAST(max(q) AS BIGINT) AS max_q8
        FROM q GROUP BY 1
    )
    SELECT dim, n_vectors, sum_q8,
           floor(CAST(sum_q8 AS DOUBLE) / (n_vectors * 100.0)) / 1e6
               AS mean_val,
           CAST(floor(
               CAST(CAST(n_vectors AS DECIMAL(38,0)) * sq2
                    - CAST(sum_q8 AS DECIMAL(38,0))
                      * CAST(sum_q8 AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(n_vectors AS DOUBLE) / CAST(n_vectors AS DOUBLE)
               / 1e16 * 1e6) AS BIGINT) AS var_micro,
           min_q8, max_q8
    FROM agg ORDER BY dim
"""

#: PCA quantization grid: components round to 1e-4 before any sum, so
#: every cross-moment is an EXACT int64 and the covariance entering
#: the eigensolver is identical for any partitioning. q4*q4 products
#: are ~1e8 per row — int64 sums hold to ~1e10 rows; the documented
#: swap-in past that is DECIMAL(38,0) sums of the same integers.
PCA_Q = 10_000


def embedding_pca_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding table: per principal
    component, the eigenvalue, explained-variance ratio, cumulative
    ratio, and the dimension with the largest loading — the scree
    report behind whitening, dimensionality reduction, and the
    anisotropy checks run on embedding spaces before ANN indexing.

    Scale shape (the sufficient-statistics pattern in matrix form):
    an Arrow-batched mapInPandas kernel quantizes each vector to the
    1e-4 grid and emits ONE set of partial int64 cross-moments per
    batch — n, per-dim sums, and the upper triangle of the outer-
    product sum (2145 rows per batch, not per vector; numpy einsum
    does the O(batch x d^2) work C-side). A d^2-row hash aggregate
    folds the partials map-side; the driver assembles the 64x64
    covariance from EXACT integers and runs one LAPACK eigh — k x d
    driver state, the same sanctioned tier as k-means centroids and
    PQ codebooks. No d^2-per-row explode ever touches the corpus.

    Determinism: the covariance is exact-integer-derived (identical
    for any partitioning/fold order); eigh on that fixed matrix is
    deterministic on a host. Rows-only entry (no SQL eigensolver);
    the pytest contract checks eigenvalues against a direct numpy
    covariance+eigh of the collected matrix and the whitening
    property W C W^T = I."""
    import numpy as np
    import pandas as pd

    d = 64
    iu = np.triu_indices(d)

    def moments(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            q = np.floor(m * PCA_Q).astype("int64")
            outer = (q.T @ q)[iu]                # upper triangle, exact
            yield pd.DataFrame({
                "i": np.concatenate((iu[0], np.arange(d), [-1])),
                "j": np.concatenate((iu[1], np.full(d, -1), [-1])),
                "v": np.concatenate((outer, q.sum(axis=0),
                                     [np.int64(len(q))])),
            })

    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    parts = emb.select("embedding").mapInPandas(
        moments, "i int, j int, v long")
    stats = (parts.groupBy("i", "j")
             .agg(F.sum("v").alias("v")).collect())
    n = next(r["v"] for r in stats if r["i"] == -1 and r["j"] == -1)
    s = np.zeros(d)
    P = np.zeros((d, d))
    for r in stats:
        if r["j"] == -1 and r["i"] >= 0:
            s[r["i"]] = r["v"]
        elif r["i"] >= 0:
            P[r["i"], r["j"]] = P[r["j"], r["i"]] = r["v"]
    cov = (P - np.outer(s, s) / n) / n / (PCA_Q * PCA_Q)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    total = float(evals.sum())
    rows, cum = [], 0.0
    for k in range(d):
        ratio = float(evals[k]) / total
        cum += ratio
        rows.append((
            k,
            float(np.floor(evals[k] * 1e6) / 1e6),
            float(np.floor(ratio * 1e6) / 1e6),
            float(np.floor(cum * 1e6) / 1e6),
            int(np.argmax(np.abs(evecs[:, k]))),
        ))
    from simpleetlpipeline_spark.io import driver_rows_df

    return driver_rows_df(
        spark, rows, "component int, eigenvalue double, "
                     "explained_ratio double, cumulative_ratio double, "
                     "top_loading_dim int")


QUERIES["embedding_pca_report"] = embedding_pca_report  # rows-only
