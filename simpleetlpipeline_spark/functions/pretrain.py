"""Pretraining-corpus preparation operators over documents/embeddings.

The operations a large-scale training-data pipeline runs between raw
corpus and training batches (build brief 'operations a large-scale
training-data pipeline would need'; complements functions/text.py
quality scoring, functions/dedup.py, functions/curation.py):

- pii_redact:        detect + redact PII (emails / phones / IPv4)
                     with per-doc audit counts. The synthetic corpus
                     is letters-only, so the catalog entry plants
                     deterministic PII derived from doc_id in BOTH
                     engines first — the oracle then genuinely
                     verifies detection AND redaction output.
- doc_repetition:    Gopher-style repetition quality signals
                     (type-token ratio, top-token fraction,
                     duplicate-bigram fraction) + a repetitive flag.
- sequence_pack:     deterministic concat-and-cut sequence packing
                     manifest: which context-window pack(s) each
                     document lands in, per source shard.
- source_mix_report: per (source, lang) token/doc shares — the
                     mixture report a data-mixing recipe starts from.
- kmeans_assign:     seeded Lloyd k-means over the embedding column
                     (semantic clustering for dedup/mixing), k×dim
                     centroid state on the driver, assignment fully
                     distributed.

Reference parity: the reference has no corpus ops (SURVEY §1 —
pandas+SQLite e-commerce ETL, main.py); these extend the engine per
the build brief with the reference's catalog/oracle conventions.

All hot paths are JVM column expressions (regexp, array HOFs over
<=100-token docs, hash joins); no row-at-a-time Python. Floats that
cross the DuckDB oracle are floored/rounded per the documented
cross-engine rules (see functions/similarity.py module docstring).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simpleetlpipeline_spark.cache import file_stamp, shared, track
from simpleetlpipeline_spark.operators.dates import ts_lit
from simpleetlpipeline_spark.functions.similarity import as_double_vec
from simpleetlpipeline_spark.functions.text import tokens_col
from simpleetlpipeline_spark.io import fan_out, read_table

# ---------------------------------------------------------------- PII

#: Detection patterns (applied in this order; redaction replaces with
#: the [TYPE] placeholder). Kept simple and anchored to token shapes —
#: the point is the distributed scan/redact plumbing, not regex art.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?\d{3}[-.]\d{3}[-.]\d{4}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)

#: Deterministic planting rule for the catalog entry: every doc with
#: doc_id % MOD == r gets one synthetic PII item appended, type
#: chosen by r. Same arithmetic in the DuckDB oracle.
_PLANT_MOD = 10
_PLANT = {
    3: ("email", lambda d: F.concat(F.lit(" contact user"), d,
                                    F.lit("@example.com"))),
    6: ("phone", lambda d: F.concat(F.lit(" call +555-010-"),
                                    F.lpad(F.pmod(d, 10000), 4, "0"))),
    9: ("ipv4", lambda d: F.concat(F.lit(" host 10.0."),
                                   F.pmod(d, 256), F.lit(".7"))),
}


def redact_pii(text: Column) -> tuple[Column, dict[str, Column]]:
    """(redacted_text, {type: match_count}) as column expressions.

    Counts are taken BEFORE redaction; redaction applies patterns in
    PII_PATTERNS order so e.g. an email is replaced before the phone
    pattern could see its digits. Pure regexp_* — JVM, codegen, no
    shuffle.
    """
    counts = {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("long")
        for name, pat in PII_PATTERNS
    }
    red = text
    for name, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"[{name.upper()}]")
    return red, counts


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub manifest over a corpus with planted PII.

    Plants one synthetic PII item on 3 of every 10 documents (pure
    doc_id arithmetic, reproduced in the oracle), then detects and
    redacts. Returns per-doc counts plus an md5 of the redacted text
    so the oracle verifies the rewritten payload, not just the
    counts. Narrow projection — no shuffle at any scale.
    """
    docs = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = F.col("text")
    for rem, (_, mk) in _PLANT.items():
        planted = F.when(F.pmod(d, _PLANT_MOD) == rem,
                         F.concat(F.col("text"), mk(d))).otherwise(planted)
    red, counts = redact_pii(planted)
    return docs.select(
        "doc_id",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        sum(counts.values()).alias("n_pii"),
        F.md5(red).alias("redacted_md5"),
    )


# ------------------------------------------------------- repetition

#: Quality thresholds (Gopher-style repetition filters): a doc is
#: repetitive when too few distinct tokens or too much mass on one
#: token / duplicated bigrams.
REP_MAX_TOP_FRAC = 0.2
REP_MIN_TTR = 0.3
REP_MAX_DUP_BIGRAM = 0.5


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile.

    SHUFFLE-FREE since round 11: the per-doc mode count (top_cnt)
    is the maximum run length of the SORTED token array — equal
    tokens are adjacent after array_sort — so one codegen'd sort
    plus one O(n) F.aggregate run-length fold replaces the round-10
    explode -> count(doc, token) -> max-per-doc pair of hash
    aggregates. That pair shuffled one row per TOKEN (n_docs x
    ~n_tokens rows, doc_id plus three per-doc doubles riding as
    group keys) through two exchanges; at sf1 that shuffle was the
    catalog's worst super-linear term (ratio 5.57). The narrow form
    is a pure per-row projection: zero exchanges, perfectly linear,
    and exact string-equality semantics (no hash equivalence), so
    the DuckDB oracle — which computes the true mode via
    unnest+count — is unchanged. Bigram identity still uses 64-bit
    pair hashes (counts published, not grams; dedup.py convention).

    Docs are <=100 tokens, so the interpreted aggregate fold is a
    bounded ~100-step lambda per row — the same budget the existing
    zip_with bigram pass already spends (the round-10 lesson:
    interpreted HOF passes are a LINEAR per-row cost; the thing to
    kill at scale is the shuffle, not the lambda)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))

    # Mode count = longest equal-run in the sorted array. The fold
    # state is (prev token, current run, best run); a NULL initial
    # prev never equals a real token, so the first element opens a
    # run of 1 through the otherwise branch.
    def _run_step(acc, x):
        run = (F.when(x == acc.getField("prev"),
                      acc.getField("run") + 1)
               .otherwise(F.lit(1).cast("long")))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"))

    top_cnt = F.aggregate(
        F.array_sort(F.col("toks")),
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("best")),
        _run_step,
        lambda acc: acc.getField("best"))

    base = (
        docs.select("doc_id", toks.alias("toks"))
        # empty docs carry no mode; the oracle's unnest+join drops
        # them too (the fixture has none — contract, not workaround)
        .filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.col("toks"),
            top_cnt.alias("top_cnt"))
    )
    n = F.col("n_tokens")
    toks2 = F.col("toks")
    # Distinct-bigram count in ONE interpreted pass (round 10):
    # hashing the token-string pairs in a single zip_with leaves
    # exactly one trailing null (zip_with pads the 1-shorter slice),
    # and array_distinct counts null once — so
    # size(array_distinct(g)) - 1 IS the distinct non-null bigram
    # count, no filter pass needed. 64-bit pair-hash equality
    # coincides with bigram equality modulo 2^-64; only counts are
    # published. Short docs (<2 tokens) have one whole-doc gram in
    # the word_ngram_hashes_col convention -> dup fraction 0.
    pair_hashes = F.zip_with(
        toks2, F.slice(toks2, 2, F.greatest(n - 1, F.lit(1))),
        lambda a, b: F.when(a.isNull() | b.isNull(),
                            F.lit(None)).otherwise(F.xxhash64(a, b)))
    n_distinct_bigrams = F.when(
        n >= 2, F.size(F.array_distinct(pair_hashes)) - 1
    ).otherwise(F.lit(1))
    out = base.select(
        "doc_id", "n_tokens",
        (F.floor(F.size(F.array_distinct(toks2)) / n * 10000) / 10000)
        .alias("type_token_ratio"),
        # distinct gram hashes / total grams; short docs (1 bigram)
        # trivially 1.0 -> dup fraction 0
        (F.floor((1 - n_distinct_bigrams
                  / F.greatest(n - 1, F.lit(1))) * 10000) / 10000)
        .alias("dup_bigram_frac"),
        (F.floor(F.col("top_cnt") / n * 10000) / 10000)
        .alias("top_token_frac"),
    )
    repetitive = (
        (F.col("top_token_frac") > REP_MAX_TOP_FRAC)
        | (F.col("type_token_ratio") < REP_MIN_TTR)
        | (F.col("dup_bigram_frac") > REP_MAX_DUP_BIGRAM)
    )
    return out.select(
        "doc_id", "n_tokens", "type_token_ratio", "dup_bigram_frac",
        "top_token_frac", repetitive.alias("repetitive"))


# ---------------------------------------------------------- packing

#: Context window for sequence packing (tokens per pack).
PACK_CTX = 256


def sequence_pack(spark: SparkSession, sf_dir: str,
                  ctx: int = PACK_CTX) -> DataFrame:
    """Concat-and-cut sequence-packing manifest.

    Pretraining packing concatenates a shard's documents in a fixed
    order and cuts every `ctx` tokens; a document may straddle a cut.
    This emits, per document: its token offset in the shard stream
    and the first/last pack indices it lands in.

    Scale: the prefix sum is a window partitioned by `source` (the
    shard key) — each shard computes independently in parallel, the
    only shuffle is the hash exchange on source. Within a shard the
    running sum is inherently sequential (that IS the operator's
    semantics — byte offsets in a concatenated stream); at 100 TB the
    shard key is finer (source, file) so no single partition owns
    more than a file's worth of rows.
    """
    from pyspark.sql import Window
    docs = read_table(spark, sf_dir, "documents")
    n = F.size(tokens_col(F.col("text"))).cast("long")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    end = F.sum("n_tokens").over(w)
    return (
        docs.select("source", "doc_id", n.alias("n_tokens"))
        .select(
            "source", "doc_id", "n_tokens",
            (end - F.col("n_tokens")).alias("start_offset"),
            F.floor((end - F.col("n_tokens")) / ctx).alias("first_pack"),
            F.floor((end - 1) / ctx).alias("last_pack"),
        )
    )


def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report: per (source, lang) doc/token counts and
    token share of the whole corpus, floored to 6dp.

    One hash aggregate (map-side combined) + a broadcast of the
    1-row global total back across the groups — no per-row window.
    """
    docs = read_table(spark, sf_dir, "documents")
    n = F.size(tokens_col(F.col("text"))).cast("long")
    per = (docs.select("source", "lang", n.alias("n"))
           .groupBy("source", "lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n").alias("n_tokens")))
    total = per.agg(F.sum("n_tokens").alias("__tot"))
    return (
        per.crossJoin(F.broadcast(total))
        .select("source", "lang", "n_docs", "n_tokens",
                (F.floor(F.col("n_tokens") / F.col("__tot") * 1000000)
                 / 1000000).alias("token_share"))
    )


# ----------------------------------------------------------- kmeans

KMEANS_K = 8
KMEANS_ITERS = 2   # assignment rounds (1 centroid update between)
#: Centroids are rounded to 6dp after every update in BOTH engines so
#: float-sum order differences (Spark partial aggs vs DuckDB) cannot
#: leak into the next assignment round.
_KMEANS_ROUND = 6


def kmeans_assign(spark: SparkSession, sf_dir: str,
                  k: int = KMEANS_K,
                  iters: int = KMEANS_ITERS) -> DataFrame:
    """Seeded Lloyd k-means over the embedding column.

    Init: the k lowest-vec_id embeddings (deterministic, no RNG).
    Each round: assign every vector to its nearest centroid (squared
    L2, ties to the lower cluster id), then recompute centroids as
    the per-cluster dimension means, rounded to 6dp.

    Scale: centroid state is k x dim doubles — collected to the
    driver each round (tiny, the legitimate collect) and shipped
    back inside an Arrow-batched pandas_udf closure, so assignment
    is a narrow vectorized (n x k x dim) numpy distance matrix per
    batch: no shuffle, one matrix op. (A first cut built the k
    distances as per-centroid fold expressions with a least()/when
    chain — 8 centroids x 64-dim literal arrays made a plan whose
    codegen alone cost ~9s per fresh session; the numpy form is
    ~5x faster end-to-end and the plan is O(1) in k and dim.) The
    update is posexplode -> hash agg on (cluster, dim) — one linear
    shuffle per round, map-side combined. Empty clusters keep their
    previous centroid. Returns (vec_id, cluster, label) — label kept
    so cluster/label agreement can be eyeballed downstream.

    Sharing: kmeans_assign and kmeans_cluster_purity read ONE shared
    assignment frame (3 narrow int columns) built lazily by the
    family's first consumer from the shared centroids, which survive
    release_caches() — a rebuild never re-runs the Lloyd loop.
    """
    return shared(spark, ("kmeans_assign", sf_dir, k, iters), lambda: (
        _nearest(_kmeans_input(spark, sf_dir),
                 _kmeans_centroids(spark, sf_dir, k, iters))
        .select("vec_id", "label", "cluster")))


def _kmeans_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fan_out(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", as_double_vec(F.col("embedding")).alias("e"))


def _nearest(df: DataFrame, cent: np.ndarray) -> DataFrame:
    @F.pandas_udf("int")
    def nearest(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="int32")
        mat = np.array(e.tolist(), dtype=np.float64)
        d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        # argmin returns the FIRST minimum — ties go to the lower
        # cluster id, matching the oracle's row_number ORDER BY dist,
        # cluster.
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return df.withColumn("cluster", nearest("e"))


def _kmeans_centroids(spark: SparkSession, sf_dir: str, k: int,
                      iters: int) -> np.ndarray:
    """The k x dim centroids of the final assignment round: a shared
    driver value keyed on the embeddings file's stamp."""
    def build():
        emb = _kmeans_input(spark, sf_dir).persist()
        try:
            cent = np.array([r["e"] for r in
                             emb.orderBy("vec_id").limit(k).collect()],
                            dtype=np.float64)
            # Centroid update: ONE hash aggregate with `dim` positional
            # avg buffers per cluster (round 12, guide §2.3 — the same
            # rewrite as similarity._centroid_cells). The previous form
            # posexploded to n x dim rows, shuffled them on (cluster,
            # dim) and reassembled arrays with a second aggregate — dim
            # x the shuffle volume and an extra exchange per round for
            # the same per-position avg values. Built as one parsed
            # expression so construction is one py4j call, not ~130.
            # The width comes from the init centroids just collected
            # (fixtures use small dims; the embeddings table contract
            # is EMB_DIM=64).
            mean_arr = F.expr(
                "array(" + ",".join(
                    f"round(avg(e[{i}]), {_KMEANS_ROUND})"
                    for i in range(cent.shape[1])) + ")")
            for _ in range(iters - 1):
                means = _nearest(emb, cent).groupBy("cluster").agg(
                    mean_arr.alias("c")).collect()
                cent = cent.copy()
                for r in means:
                    cent[r["cluster"]] = r["c"]
            cent.flags.writeable = False  # one array for every consumer
            return cent
        finally:
            emb.unpersist()

    path = os.path.join(sf_dir, "embeddings.parquet")
    return shared(spark, ("kmeans_centroids", file_stamp(path), k, iters),
                  build)


# ---------------------------------------------------------- sharding

#: Output fan-out for the shard manifest and the multiplicative-hash
#: constant (Knuth's 2^32/phi) shared with the oracle.
N_SHARDS = 64
_SHARD_HASH_A = 2654435761
_SHARD_HASH_MOD = 1 << 32


def shard_manifest(spark: SparkSession, sf_dir: str,
                   n_shards: int = N_SHARDS) -> DataFrame:
    """Deterministic output-shard plan — the balancing step before
    writing a corpus as n fixed shards: each document is assigned by
    a multiplicative hash of doc_id (engine-independent integer
    arithmetic, unlike Spark's internal hashPartitioning), and the
    manifest reports per-shard doc/token/byte totals so skew is
    visible BEFORE the 100 TB write (a hot shard here means a
    straggler task there).

    One hash aggregate, map-side combined; the subsequent write would
    be repartition(n_shards, shard) with each task streaming one file.
    """
    docs = read_table(spark, sf_dir, "documents")
    shard = F.pmod((F.col("doc_id") * _SHARD_HASH_A) % _SHARD_HASH_MOD,
                   F.lit(n_shards))
    n_tok = F.size(tokens_col(F.col("text"))).cast("long")
    return (
        docs.select(shard.alias("shard"), n_tok.alias("n"),
                    F.length("text").cast("long").alias("b"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n").alias("n_tokens"),
             F.sum("b").alias("n_chars"))
    )


#: Curriculum bins over the doc_stats quality score.
N_QUALITY_BINS = 10


def quality_bins(spark: SparkSession, sf_dir: str,
                 n_bins: int = N_QUALITY_BINS) -> DataFrame:
    """Curriculum/quality binning: ntile over the corpus quality score
    (deterministic ordering: score then doc_id), the step that turns a
    continuous quality signal into sampling strata for data mixing or
    curriculum schedules.

    Scale note: ntile needs one total ordering (equal-population
    bins need global ranks), but Spark plans an unpartitioned ntile
    window as Exchange SinglePartition — one task sorts every doc.
    The two-pass form replaces it: coarse score-range buckets give
    distributed per-bucket ranks plus a tiny offset spine
    (two_pass_global_window), and the bin assignment is recomputed
    arithmetically from (rank, N) — bit-identical to SQL ntile
    (ntile_from_rank), so the DuckDB oracle keeps the plain window.
    For fixed THRESHOLD bins (no global ranks at all) use
    width_bucket-style arithmetic instead.
    """
    from simpleetlpipeline_spark.functions.text import doc_stats
    from simpleetlpipeline_spark.operators.aggregates import (
        ntile_from_rank, two_pass_global_window)

    # Persisted, deliberately: two_pass_global_window evaluates its
    # input three times (min/max scalar pass, bucket-spine pass,
    # final rank pass) — without the persist each pass re-tokenizes
    # the whole corpus for the quality score (3x the linear term;
    # the round-10 sf1-tail diagnosis). The cached projection is
    # two columns (16 bytes/doc), exactly what you'd materialize on
    # a real cluster before a global rank.
    stats = track(
        doc_stats(spark, sf_dir).select("doc_id", "quality_score")
        .persist())
    # quality_score is min(1, len/50)*(1-stop_ratio) floored at 4dp —
    # statically in [0, 1], so key_bounds skips the min/max scalar
    # pass over the cached stats (two fewer jobs; round 13).
    ranked = two_pass_global_window(
        stats, "quality_score",
        [F.col("quality_score"), F.col("doc_id")],
        rank_out="__r", total_rows_out="__n",
        key_bounds=(0.0, 1.0))
    return ranked.select(
        "doc_id", "quality_score",
        ntile_from_rank(F.col("__r"), F.col("__n"), n_bins)
        .alias("quality_bin"),
    )


QUERIES = {
    "pii_redact": pii_redact,
    "doc_repetition": doc_repetition,
    "sequence_pack": sequence_pack,
    "source_mix_report": source_mix_report,
    "kmeans_assign": kmeans_assign,
    "shard_manifest": shard_manifest,
    "quality_bins": quality_bins,
}


def _pii_planted_sql() -> str:
    """Oracle-side planting: same doc_id arithmetic as _PLANT."""
    return """
        CASE
          WHEN doc_id % 10 = 3 THEN
            text || ' contact user' || doc_id || '@example.com'
          WHEN doc_id % 10 = 6 THEN
            text || ' call +555-010-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          WHEN doc_id % 10 = 9 THEN
            text || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
          ELSE text
        END
    """


_PII_RE_SQL = {
    # Duck/RE2-compatible spellings of PII_PATTERNS
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d{3}[-.]\d{3}[-.]\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

ORACLE_SQL = {
    "pii_redact": f"""
        WITH planted AS (
            SELECT doc_id, {_pii_planted_sql()} AS t FROM documents
        ), counted AS (
            SELECT doc_id, t,
                   len(regexp_extract_all(t, '{_PII_RE_SQL["email"]}'))
                       AS n_email,
                   len(regexp_extract_all(t, '{_PII_RE_SQL["phone"]}'))
                       AS n_phone,
                   len(regexp_extract_all(t, '{_PII_RE_SQL["ipv4"]}'))
                       AS n_ipv4
            FROM planted
        )
        SELECT doc_id,
               CAST(n_email AS BIGINT) AS n_email,
               CAST(n_phone AS BIGINT) AS n_phone,
               CAST(n_ipv4 AS BIGINT) AS n_ipv4,
               CAST(n_email + n_phone + n_ipv4 AS BIGINT) AS n_pii,
               md5(regexp_replace(regexp_replace(regexp_replace(t,
                   '{_PII_RE_SQL["email"]}', '[EMAIL]', 'g'),
                   '{_PII_RE_SQL["phone"]}', '[PHONE]', 'g'),
                   '{_PII_RE_SQL["ipv4"]}', '[IPV4]', 'g'))
                   AS redacted_md5
        FROM counted
    """,
    "doc_repetition": f"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ), base AS (
            SELECT doc_id, t, len(t) AS n,
                   CAST(floor(len(list_distinct(t)) * 10000.0 / len(t))
                        / 10000 AS DOUBLE) AS type_token_ratio,
                   -- bigram strings; short docs fall back to one
                   -- whole-doc gram like the Spark gram hasher
                   CAST(floor((1 - len(list_distinct(list_transform(
                         range(1, greatest(len(t) - 2, 0) + 2),
                         i -> array_to_string(list_slice(t, i, i + 1), ' '))))
                         * 1.0 / greatest(len(t) - 1, 1)) * 10000) / 10000
                        AS DOUBLE) AS dup_bigram_frac
            FROM toks
        ), top AS (
            SELECT doc_id, max(c) AS top_cnt FROM (
                SELECT doc_id, tok, count(*) AS c FROM (
                    SELECT doc_id, unnest(t) AS tok FROM toks
                ) GROUP BY doc_id, tok
            ) GROUP BY doc_id
        )
        SELECT b.doc_id,
               CAST(b.n AS BIGINT) AS n_tokens,
               b.type_token_ratio,
               b.dup_bigram_frac,
               CAST(floor(top.top_cnt * 10000.0 / b.n) / 10000 AS DOUBLE)
                   AS top_token_frac,
               (floor(top.top_cnt * 10000.0 / b.n) / 10000
                    > {REP_MAX_TOP_FRAC}
                OR b.type_token_ratio < {REP_MIN_TTR}
                OR b.dup_bigram_frac > {REP_MAX_DUP_BIGRAM}) AS repetitive
        FROM base b JOIN top USING (doc_id)
    """,
    "sequence_pack": f"""
        WITH t AS (
            SELECT source, doc_id,
                   CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT *, sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS endo
            FROM t
        )
        SELECT source, doc_id, n_tokens,
               CAST(endo - n_tokens AS BIGINT) AS start_offset,
               CAST(floor((endo - n_tokens) / {PACK_CTX}.0) AS BIGINT)
                   AS first_pack,
               CAST(floor((endo - 1) / {PACK_CTX}.0) AS BIGINT) AS last_pack
        FROM c
    """,
    "source_mix_report": """
        WITH per AS (
            SELECT source, lang, count(*) AS n_docs,
                   CAST(sum(len(string_split_regex(lower(trim(text)),
                        '\\s+'))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source, lang
        )
        SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
               CAST(floor(n_tokens * 1000000.0
                    / (SELECT sum(n_tokens) FROM per)) / 1000000
                    AS DOUBLE) AS token_share
        FROM per
    """,
}

# Composable CTE chain for the seeded 2-round Lloyd replay, shared by
# the kmeans_assign oracle and (round 11) the kmeans_cluster_purity
# oracle — purity is a pure aggregation over the same deterministic
# assignment, so once the assignment is SQL-replayable the evaluation
# report is too.
_KMEANS_CTES = f"""
        e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), init AS (
            SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster, v
            FROM e ORDER BY vec_id LIMIT {KMEANS_K}
        ), a1 AS (
            SELECT vec_id, label, v, cluster FROM (
                SELECT e.vec_id, e.label, e.v, i.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_reduce(
                               list_transform(range(1, len(e.v) + 1),
                                   j -> (e.v[j] - i.v[j]) * (e.v[j] - i.v[j])),
                               (acc, x) -> acc + x) ASC,
                               i.cluster ASC) AS rn
                FROM e CROSS JOIN init i
            ) WHERE rn = 1
        ), m1 AS (
            SELECT cluster, list(m ORDER BY dim) AS v FROM (
                SELECT cluster, dim, round(avg(val), {_KMEANS_ROUND}) AS m
                FROM (
                    SELECT cluster,
                           unnest(range(1, len(v) + 1)) AS dim,
                           unnest(v) AS val
                    FROM a1
                ) GROUP BY cluster, dim
            ) GROUP BY cluster
        ), cents AS (
            -- empty clusters keep their init centroid
            SELECT i.cluster, coalesce(m1.v, i.v) AS v
            FROM init i LEFT JOIN m1 ON m1.cluster = i.cluster
        ), assigned AS (
            SELECT vec_id, label, CAST(cluster AS INTEGER) AS cluster
            FROM (
                SELECT e.vec_id, e.label, c.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_reduce(
                               list_transform(range(1, len(e.v) + 1),
                                   j -> (e.v[j] - c.v[j])
                                        * (e.v[j] - c.v[j])),
                               (acc, x) -> acc + x) ASC,
                               c.cluster ASC) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        )
"""

ORACLE_SQL["kmeans_assign"] = f"""
    WITH {_KMEANS_CTES}
    SELECT vec_id, label, cluster FROM assigned
"""

# Majority ties break to the LOWEST label (Spark's
# max(struct(n, -label)) idiom == ORDER BY n DESC, label ASC).
ORACLE_SQL["kmeans_cluster_purity"] = f"""
    WITH {_KMEANS_CTES}
    , by_pair AS (
        SELECT cluster, label, CAST(count(*) AS BIGINT) AS n
        FROM assigned GROUP BY 1, 2
    ), per_cluster AS (
        SELECT cluster,
               CAST(sum(n) OVER (PARTITION BY cluster) AS BIGINT)
                   AS cluster_size,
               CAST(label AS INTEGER) AS majority_label,
               n AS majority_n,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY n DESC, label ASC) AS rn
        FROM by_pair
    ), pc AS (
        SELECT cluster, cluster_size, majority_label, majority_n,
               floor(majority_n * 1.0 / cluster_size * 10000) / 10000
                   AS purity
        FROM per_cluster WHERE rn = 1
    )
    SELECT cluster, cluster_size, majority_label, majority_n, purity,
           (SELECT floor(sum(majority_n) * 1.0 / sum(cluster_size)
                         * 10000) / 10000 FROM pc) AS overall_purity
    FROM pc
    ORDER BY cluster
"""

ORACLE_SQL["shard_manifest"] = f"""
    SELECT ((doc_id * {_SHARD_HASH_A}) % {_SHARD_HASH_MOD})
               % {N_SHARDS} AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+')))
                AS BIGINT) AS n_tokens,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1
"""

ORACLE_SQL["quality_bins"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks,
                   x -> x IN ('the','a','an','of','and','to','in','is',
                              'on','for'))) AS BIGINT) AS n_stopwords
        FROM t
    ), q AS (
        SELECT doc_id,
               floor(least(1.0, n_tokens / 50.0)
                     * (1 - n_stopwords / n_tokens) * 10000) / 10000
                   AS quality_score
        FROM s
    )
    SELECT doc_id, quality_score,
           CAST(ntile({N_QUALITY_BINS}) OVER
                    (ORDER BY quality_score, doc_id) AS INT)
               AS quality_bin
    FROM q
"""


#: Knuth multiplicative hash (same family as curation._MIX_MULT) and
#: per-10k split thresholds: [0,9000) train, [9000,9500) val, rest test.
_SPLIT_MULT = 2654435761
SPLIT_BOUNDS = (9000, 9500)


def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split manifest: each document's
    split is a pure function of doc_id (multiplicative-hash ticket
    against fixed per-10k thresholds), so the assignment is stable
    across reruns, engines, and corpus growth — a document never
    migrates between splits when new data arrives, which is the
    property that keeps eval sets uncontaminated over time.

    Scale: narrow projection, zero shuffles, no RNG state. The
    DuckDB oracle reproduces the ticket exactly (plain integer
    arithmetic — the same determinism contract as corpus_mix_sample).

    doc_id is reduced mod 10000 BEFORE the multiply: (a mod m)*b mod m
    == a*b mod m, so the ticket is unchanged, but the product is now
    bounded by 9999*_SPLIT_MULT < 2^45 — without the reduction,
    doc_id >~ 3.5e9 overflows int64, which Spark (non-ANSI) wraps
    silently while DuckDB promotes to INT128, silently diverging the
    split assignment at large corpus ids.
    """
    ticket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(10000)) * F.lit(_SPLIT_MULT),
        F.lit(10000))
    split = (
        F.when(ticket < SPLIT_BOUNDS[0], F.lit("train"))
        .when(ticket < SPLIT_BOUNDS[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", split.alias("split"))
    )


QUERIES["train_split_assign"] = train_split_assign

ORACLE_SQL["train_split_assign"] = f"""
    SELECT doc_id, lang, source,
           CASE WHEN ((doc_id % 10000) * {_SPLIT_MULT}) % 10000
                     < {SPLIT_BOUNDS[0]}
                THEN 'train'
                WHEN ((doc_id % 10000) * {_SPLIT_MULT}) % 10000
                     < {SPLIT_BOUNDS[1]}
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""


def feature_scaling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type standardization parameters — the mean/std/
    min/max a feature pipeline persists so training AND serving
    scale identically (train/serve skew from recomputed stats is a
    classic ML outage). Emitted as a manifest, not applied in place,
    exactly like the quantization/split manifests.

    Determinism: values quantize to int64 micro-units per row, so
    n, S and the DECIMAL(38,0) square-sum are exact in any fold
    order; mean and the (n*S2 - S^2)-form std then derive through a
    fixed IEEE chain on identical numbers, floored at 6dp. min/max
    are order statistics — exact by nature.

    Scale: one map-side-combined hash aggregate, |event_type|
    groups, no second pass (the sufficient-statistics trick vs the
    naive mean-then-variance double scan).
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1e6).cast("long").alias("v6"))
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v6").alias("s"),
        F.sum(F.col("v6").cast("decimal(38,0)")
              * F.col("v6").cast("decimal(38,0)")).alias("s2"),
        F.min("v6").alias("vmin6"),
        F.max("v6").alias("vmax6"))
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    s2 = F.col("s2").cast("double")
    mean = s / n / 1e6
    var = (n * s2 - s * s) / (n * n) / 1e12
    return agg.select(
        "event_type", "n",
        (F.floor(mean * 1e6) / 1e6).alias("vmean"),
        (F.floor(F.sqrt(var) * 1e6) / 1e6).alias("vstd"),
        (F.col("vmin6") / 1e6).alias("vmin"),
        (F.col("vmax6") / 1e6).alias("vmax"),
    ).orderBy("event_type")


QUERIES["feature_scaling_stats"] = feature_scaling_stats

ORACLE_SQL["feature_scaling_stats"] = """
    WITH q AS (
        SELECT event_type,
               CAST(floor(value * 1e6) AS BIGINT) AS v6
        FROM events
    ), a AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(v6) AS BIGINT) AS s,
               CAST(sum(CAST(v6 AS DECIMAL(38,0))
                        * CAST(v6 AS DECIMAL(38,0))) AS DOUBLE) AS s2,
               min(v6) AS vmin6, max(v6) AS vmax6
        FROM q GROUP BY 1
    )
    SELECT event_type, n,
           floor(CAST(s AS DOUBLE) / n / 1e6 * 1e6) / 1e6 AS vmean,
           floor(sqrt((n * s2 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * n) / 1e12) * 1e6) / 1e6
               AS vstd,
           CAST(vmin6 AS DOUBLE) / 1e6 AS vmin,
           CAST(vmax6 AS DOUBLE) / 1e6 AS vmax
    FROM a ORDER BY 1
"""


def user_level_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment for EVENT data: the
    split is a pure function of user_id, so every event of one user
    lands in the same split — the grouping discipline that stops a
    model from memorizing a user in train and being graded on the
    same user in test (row-level splits leak exactly that way).
    Same multiplicative-hash ticket scheme as train_split_assign
    (engine-independent integer arithmetic, stable under corpus
    growth); emitted as the per-split report (users, events, and the
    event share) rather than 5M assignment rows.

    One narrow projection + one |splits|-group aggregate. The
    invariant the pytest would state — no user in two splits — holds
    by construction (the ticket is a function of the group key).
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id")
    ticket = F.pmod(
        F.pmod(F.col("user_id"), F.lit(10000)) * F.lit(_SPLIT_MULT),
        F.lit(10000))
    split = (F.when(ticket < SPLIT_BOUNDS[0], F.lit("train"))
             .when(ticket < SPLIT_BOUNDS[1], F.lit("val"))
             .otherwise(F.lit("test")))
    agg = (ev.select(split.alias("split"), "user_id")
           .groupBy("split")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("user_id").alias("n_users")))
    total = agg.agg(F.sum("n_events").alias("__t"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select("split", "n_users", "n_events",
                (F.floor(F.col("n_events") / F.col("__t") * 10000)
                 / 10000).alias("event_share"))
        .orderBy("split")
    )


QUERIES["user_level_split"] = user_level_split

ORACLE_SQL["user_level_split"] = f"""
    WITH e AS (
        SELECT user_id, event_id,
               CASE WHEN ((user_id % 10000) * {_SPLIT_MULT}) % 10000
                         < {SPLIT_BOUNDS[0]} THEN 'train'
                    WHEN ((user_id % 10000) * {_SPLIT_MULT}) % 10000
                         < {SPLIT_BOUNDS[1]} THEN 'val'
                    ELSE 'test' END AS split
        FROM events
    ), agg AS (
        SELECT split, count(*) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM e GROUP BY 1
    ), t AS (SELECT sum(n_events) AS tt FROM agg)
    SELECT split, n_users, n_events,
           floor(n_events * 1.0 / tt * 10000) / 10000 AS event_share
    FROM agg CROSS JOIN t
    ORDER BY split
"""


STRAT_QUOTA = 40


def stratified_exact_sample(spark: SparkSession, sf_dir: str,
                            quota: int = STRAT_QUOTA) -> DataFrame:
    """Exact-size stratified sampling: from every language stratum,
    keep EXACTLY min(quota, |stratum|) documents — the per-stratum
    rank of a deterministic multiplicative-hash ticket (ties by
    doc_id) decides membership. Bernoulli sampling
    (corpus_mix_sample) only hits its fraction in expectation; eval
    sets and ablation slices need exact counts, which costs a
    per-stratum top-k instead of a stateless filter.

    Scale: the window sorts WITHIN each stratum (range-partitioned
    by lang); for huge strata swap in the two-phase top-k
    (per-partition heads then merge) that ann_topk uses — same
    result, no single-reducer sort. Ticket arithmetic is the
    overflow-safe reduced form shared with train_split_assign.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source")
    ticket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(10000)) * F.lit(_SPLIT_MULT),
        F.lit(10000))
    w = Window.partitionBy("lang").orderBy(ticket.asc(), F.col("doc_id"))
    return (
        docs.withColumn("rank_in_stratum",
                        F.row_number().over(w).cast("int"))
        .filter(F.col("rank_in_stratum") <= quota)
        .select("doc_id", "lang", "source", "rank_in_stratum")
    )


QUERIES["stratified_exact_sample"] = stratified_exact_sample

ORACLE_SQL["stratified_exact_sample"] = f"""
    SELECT doc_id, lang, source,
           CAST(rank_in_stratum AS INTEGER) AS rank_in_stratum
    FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ((doc_id % 10000) * {_SPLIT_MULT}) % 10000,
                            doc_id) AS rank_in_stratum
        FROM documents
    ) WHERE rank_in_stratum <= {STRAT_QUOTA}
"""


def kmeans_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-evaluation report — the sibling of the ANN recall
    harness: per k-means cluster, its size, majority label, and
    purity (majority-label share), plus the corpus-weighted overall
    purity riding on every row. Purity is the first number anyone
    checks before trusting cluster-based curation (SemDeDup-style
    pruning of an impure clustering silently drops the wrong docs).

    Hash-oracled since round 11: the assignment it composes is the
    SQL-replayable seeded Lloyd (kmeans_assign's oracle), so the
    purity report shares that replay via _KMEANS_CTES; the
    planted-blobs pytest additionally pins purity 1.0 on separable
    data. All ratio inputs are integers; purity floors at 4dp with
    majority ties to the lowest label.

    Scale: one (cluster, label) hash aggregate over the assignment
    frame, then |clusters| rows — evaluation is free relative to
    the clustering itself.
    """
    assigned = kmeans_assign(spark, sf_dir).select("cluster", "label")
    by_pair = assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n"))
    best = (by_pair.groupBy("cluster")
            .agg(F.max(F.struct(F.col("n"),
                                (-F.col("label")).alias("neg_label")))
                 .alias("b"),
                 F.sum("n").alias("cluster_size")))
    per_cluster = best.select(
        "cluster", "cluster_size",
        (-F.col("b.neg_label")).cast("int").alias("majority_label"),
        F.col("b.n").alias("majority_n"),
        (F.floor(F.col("b.n") / F.col("cluster_size") * 10000) / 10000)
        .alias("purity"))
    # Overall purity as an unpartitioned-window sum over the
    # |clusters|-row frame (round 13, guide §2.4): the previous
    # agg + crossJoin(broadcast) duplicated the ENTIRE assignment
    # lineage — the scan, the Arrow nearest-centroid kernel and both
    # aggregates ran a second time inside the broadcast subtree
    # (plans/r13/kmeans_cluster_purity_before.txt: 2 Scans /
    # 2 ArrowEvalPython). An Exchange SinglePartition over <= k rows
    # is the sanctioned tiny-frame window tier; same exact integers,
    # same floor, so the hash oracle is unchanged.
    whole = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    return (per_cluster.withColumn(
        "overall_purity",
        F.floor(F.sum("majority_n").over(whole)
                / F.sum("cluster_size").over(whole) * 10000) / 10000)
            .orderBy("cluster"))


QUERIES["kmeans_cluster_purity"] = kmeans_cluster_purity  # oracled r11


NEG_K = 3
NEG_MOD = 100003          # prime reduction: bounds the product to
NEG_MUL = 2654435761      # ~2.7e14 << int64, so Spark (wrapping) and
NEG_STEP = 40503          # DuckDB (int128) compute identical tickets
NEG_RING = 4294967296


def negative_samples(spark: SparkSession, sf_dir: str,
                     k: int = NEG_K) -> DataFrame:
    """Contrastive negative sampling (two-tower / recommender
    training prep): for every customer with purchase history, `k`
    deterministic pseudo-random candidate parts, REJECTING any part
    the customer actually bought (the accidental-positive filter).
    Rejected slots are dropped, not resampled — at corpus scale the
    positive rate is |basket|/|parts|, so the expected loss per
    customer is negligible and the op stays one-pass.

    Determinism contract (train_split_assign's): the candidate is a
    pure integer function of (custkey, slot) — custkey reduced mod a
    prime BEFORE the multiply so the product provably fits int64 in
    Spark while DuckDB's int128 arithmetic lands on the same value.
    No RNG state, stable across reruns, engines, and partitioning.

    Scale shape: |customers| x k rows from one explode; the part
    count rides in as a one-row broadcast scalar (p_partkey is
    0-based contiguous by generator contract — at migration time a
    non-contiguous key space needs one extra dense-rank dimension
    map); the rejection is a single anti-join shuffled on (custkey,
    partkey) — linear end to end, no windows, no driver collect."""
    n_parts = (read_table(spark, sf_dir, "part")
               .agg(F.count(F.lit(1)).alias("__n_parts")))
    purchasers = (read_table(spark, sf_dir, "orders")
                  .select("o_custkey").distinct())
    purchases = (
        read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        .join(read_table(spark, sf_dir, "lineitem")
              .select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_partkey").distinct()
    )
    ticket = ((F.col("o_custkey") % NEG_MOD) * F.lit(NEG_MUL)
              + F.col("sample_idx") * F.lit(NEG_STEP)) % F.lit(NEG_RING)
    cands = (
        purchasers.crossJoin(F.broadcast(n_parts))
        .select("o_custkey", "__n_parts",
                F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                 .alias("sample_idx"))
        .withColumn("neg_partkey", ticket % F.col("__n_parts"))
    )
    return (
        cands.join(purchases,
                   (cands["o_custkey"] == purchases["o_custkey"])
                   & (cands["neg_partkey"] == purchases["l_partkey"]),
                   "left_anti")
        .select(F.col("o_custkey").alias("custkey"), "sample_idx",
                "neg_partkey")
        .orderBy("custkey", "sample_idx")
    )


QUERIES["negative_samples"] = negative_samples

ORACLE_SQL["negative_samples"] = f"""
    WITH purchasers AS (
        SELECT DISTINCT o_custkey FROM orders
    ), purchases AS (
        SELECT DISTINCT o_custkey, l_partkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), np AS (
        SELECT count(*) AS n_parts FROM part
    ), cands AS (
        SELECT o_custkey, CAST(t.i AS BIGINT) AS sample_idx,
               CAST((((o_custkey % {NEG_MOD}) * {NEG_MUL}
                      + t.i * {NEG_STEP}) % {NEG_RING}) % np.n_parts
                    AS BIGINT) AS neg_partkey
        FROM purchasers CROSS JOIN np
        CROSS JOIN range(0, {NEG_K}) t(i)
    )
    SELECT c.o_custkey AS custkey, c.sample_idx, c.neg_partkey
    FROM cands c
    WHERE NOT EXISTS (
        SELECT 1 FROM purchases p
        WHERE p.o_custkey = c.o_custkey
          AND p.l_partkey = c.neg_partkey)
    ORDER BY custkey, sample_idx
"""


TOKEN_SAMPLE_K = 50


def token_weighted_sample(spark: SparkSession, sf_dir: str,
                          k: int = TOKEN_SAMPLE_K) -> DataFrame:
    """Length-proportional systematic sampling: pick ~k documents
    with probability proportional to token count — the eval-set /
    inspection sampler that doesn't under-represent long documents
    the way uniform row sampling does. A document is selected when
    its token mass crosses one of k equal strides of the corpus's
    total token count, so the whole selection is INTEGER arithmetic
    (cumulative int64 sums, floor-divided stride indices): no RNG,
    no floats, identical in both engines and across reruns. A
    document long enough to span multiple stride boundaries is
    selected once (collapsing its strides — so the sample is <= k,
    exactly k when no doc owns more than 1/k of the corpus).

    Scale note: the cumulative sum over the (doc_id, n_tokens)
    manifest runs as the classic two-pass distributed prefix sum
    (two_pass_global_window: coarse doc_id-range buckets, per-bucket
    windowed sums, per-bucket totals broadcast back as offsets) —
    never an unpartitioned window's single-task sort. The grand
    total rides out of the same pass, so no second aggregate scans
    the manifest. Selections are preserved exactly because the
    arithmetic is associative integer addition."""
    from simpleetlpipeline_spark.functions.text import tokens_col
    from simpleetlpipeline_spark.operators.aggregates import (
        two_pass_global_window)

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long")
        .alias("n_tokens"))
    cum = two_pass_global_window(
        docs, "doc_id", [F.col("doc_id")], value_col="n_tokens",
        rank_out=None, cum_out="cum", total_value_out="__total")
    sel = (cum
           .withColumn(
               "stride_idx",
               F.floor(F.col("cum") * k / F.col("__total")))
           .withColumn(
               "prev_idx",
               F.floor((F.col("cum") - F.col("n_tokens")) * k
                       / F.col("__total")))
           .filter(F.col("stride_idx") > F.col("prev_idx")))
    return (sel.select("doc_id", "n_tokens",
                       F.col("stride_idx").cast("long").alias("stride_idx"))
            .orderBy("doc_id"))


QUERIES["token_weighted_sample"] = token_weighted_sample

ORACLE_SQL["token_weighted_sample"] = f"""
    WITH m AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM m
    ), t AS (SELECT max(cum) AS total FROM c)
    SELECT doc_id, n_tokens,
           CAST(cum * {TOKEN_SAMPLE_K} // total AS BIGINT) AS stride_idx
    FROM c CROSS JOIN t
    WHERE cum * {TOKEN_SAMPLE_K} // total
          > (cum - n_tokens) * {TOKEN_SAMPLE_K} // total
    ORDER BY doc_id
"""


#: Priority-sample size and the fixed-point scales for the priority
#: key (w * PRI_SCALE // h fits int64: w <= ~1e5 tokens, so the
#: product is <= 1e17) and the micro-token estimator grid.
PRIORITY_SAMPLE_K = 50
PRI_P = 2_147_483_647
PRI_A = 1_597_334_677
PRI_B = 15_487_469
PRI_SCALE = 1_000_000_000_000


def priority_sample_docs(spark: SparkSession, sf_dir: str,
                         k: int = PRIORITY_SAMPLE_K) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): a FIXED-SIZE
    weighted sample of k documents that still supports unbiased
    subset-sum estimates. Each doc draws a deterministic 'uniform'
    h/P from an integer hash of doc_id, gets priority q = w/(h/P)
    (token count over uniform), and the k highest-priority docs are
    kept; tau = the (k+1)-th priority. The Horvitz-Thompson
    estimator max(w, tau) per sampled doc makes sum(w_hat) unbiased
    for the corpus's total token count — so ONE k-row sample
    answers 'how many tokens does <any subset> hold' without
    rescanning, the estimation contract reservoir/stride samplers
    lack (token_weighted_sample picks proportionally but cannot
    reweight a subset).

    Determinism: the priority key is floor(w * 1e12 / h) — integer
    multiply bounded by 1e17, integer division of non-negative
    operands (Spark `div` == DuckDB `//` there), ties broken by
    doc_id; tau and the micro-token w_hat derive from it by exact
    integer division. No RNG, no floats anywhere.

    Shape: the |docs| (doc_id, n_tokens) MANIFEST is the only input.
    The top-(k+1) selection is the two-phase partial form
    (salted_topk with no keys): stage 1 keeps k+1 candidates per
    salt partition, stage 2 re-ranks only the <= n_salts*(k+1)
    survivors — no unpartitioned window ever sees the full manifest,
    so no single task sorts it. The total-token witness is one
    aggregate; output is k rows."""
    from simpleetlpipeline_spark.functions.text import tokens_col
    from simpleetlpipeline_spark.operators.aggregates import salted_topk

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long")
        .alias("n_tokens"))
    h = (((F.col("doc_id") % PRI_P) * PRI_A + PRI_B) % PRI_P) + 1
    pri = docs.select(
        "doc_id", "n_tokens",
        F.expr(f"n_tokens * {PRI_SCALE}L div "
               f"((((doc_id % {PRI_P}L) * {PRI_A}L + {PRI_B}L) "
               f"% {PRI_P}L) + 1L)").alias("q"))
    ranked = (salted_topk(pri.select("doc_id", "n_tokens", "q"),
                          [], [F.desc("q"), F.asc("doc_id")], k + 1)
              .withColumnRenamed("topk_rank", "rn"))
    tau = (ranked.filter(F.col("rn") == k + 1)
           .select(F.expr("q div 1000000L").alias("tau_micro")))
    total = docs.agg(F.sum("n_tokens").cast("bigint")
                     .alias("exact_total_tokens"))
    return (ranked.filter(F.col("rn") <= k)
            .crossJoin(F.broadcast(tau))
            .crossJoin(F.broadcast(total))
            .select(
                "doc_id", "n_tokens",
                F.col("q").alias("priority_scaled"),
                F.greatest(F.col("n_tokens") * 1_000_000,
                           F.col("tau_micro"))
                .cast("bigint").alias("w_hat_micro"),
                "exact_total_tokens")
            .orderBy(F.desc("priority_scaled"), F.asc("doc_id")))


QUERIES["priority_sample_docs"] = priority_sample_docs

ORACLE_SQL["priority_sample_docs"] = f"""
    WITH m AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), pri AS (
        SELECT doc_id, n_tokens,
               n_tokens * {PRI_SCALE} //
               ((((doc_id % {PRI_P}) * {PRI_A} + {PRI_B})
                 % {PRI_P}) + 1) AS q
        FROM m
    ), ranked AS (
        SELECT doc_id, n_tokens, q,
               row_number() OVER (ORDER BY q DESC, doc_id) AS rn
        FROM pri
    ), tau AS (
        SELECT q // 1000000 AS tau_micro FROM ranked
        WHERE rn = {PRIORITY_SAMPLE_K} + 1
    ), total AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS exact_total_tokens
        FROM m
    )
    SELECT doc_id, n_tokens, q AS priority_scaled,
           CAST(greatest(n_tokens * 1000000, tau_micro) AS BIGINT)
               AS w_hat_micro,
           exact_total_tokens
    FROM ranked CROSS JOIN tau CROSS JOIN total
    WHERE rn <= {PRIORITY_SAMPLE_K}
    ORDER BY priority_scaled DESC, doc_id
"""


#: Activity cutoff for the WOE target: a customer is POSITIVE when
#: they placed at least one order on/after this date (same split
#: instant as the CF holdout eval).
WOE_CUTOFF = "2000-01-01"
#: Decile count for the gains/lift readout — interpolated into
#: BOTH the Spark default and the oracle (an out-of-band n_bins
#: would silently diverge from a hardcoded oracle otherwise).
GAINS_N_BINS = 10


def woe_encoding(spark: SparkSession, sf_dir: str,
                 cutoff: str = WOE_CUTOFF) -> DataFrame:
    """Weight-of-evidence encoding of a categorical feature against a
    binary target — the credit-scoring-born encoder that turns a
    category into ln(P(cat|pos)/P(cat|neg)), here market segment vs
    will-the-customer-order-again (any order on/after the cutoff).
    Emits per-segment event counts, the Laplace-smoothed WOE, and
    each segment's information-value contribution (their sum is the
    feature's IV — the standard keep/drop screen).

    Determinism: all counts are exact; the smoothed odds ratio
    ((pos_g+1)*(neg_tot+S)) / ((neg_g+1)*(pos_tot+S)) is an exact
    integer ratio taken through ONE ln and floored at 1e-7 (the lp7
    contract); the IV contribution repeats the identical IEEE chain
    in both engines and floors at 1e-7. Sums of the lp7 ints are
    order-free.

    Shape: one orders scan -> per-customer any-after-cutoff flag
    (max_by-free: a plain max of a boolean), broadcast-joined to the
    customer dim -> |segments| hash agg. At 100 TB the orders agg is
    the only big shuffle (keyed by custkey, map-side combined)."""
    customers = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate")
    active = (orders.groupBy("o_custkey")
              .agg(F.max((F.col("o_orderdate") >= ts_lit(cutoff)).cast("int"))
                   .alias("is_pos")))
    labeled = (customers
               .join(active,
                     customers["c_custkey"] == active["o_custkey"],
                     "left")
               .select("c_mktsegment",
                       F.coalesce("is_pos", F.lit(0)).alias("is_pos")))
    seg = (labeled.groupBy("c_mktsegment")
           .agg(F.sum("is_pos").cast("long").alias("n_pos"),
                F.sum(1 - F.col("is_pos")).cast("long").alias("n_neg")))
    tot = seg.agg(F.sum("n_pos").cast("long").alias("pos_tot"),
                  F.sum("n_neg").cast("long").alias("neg_tot"),
                  F.count(F.lit(1)).cast("long").alias("n_seg"))
    j = seg.crossJoin(F.broadcast(tot))
    odds = ((F.col("n_pos") + 1).cast("double")
            * (F.col("neg_tot") + F.col("n_seg")).cast("double")
            / (F.col("n_neg") + 1).cast("double")
            / (F.col("pos_tot") + F.col("n_seg")).cast("double"))
    woe = F.log(odds)
    share_diff = ((F.col("n_pos") + 1).cast("double")
                  / (F.col("pos_tot") + F.col("n_seg")).cast("double")
                  - (F.col("n_neg") + 1).cast("double")
                  / (F.col("neg_tot") + F.col("n_seg")).cast("double"))
    return (j.select(
        "c_mktsegment", "n_pos", "n_neg",
        F.floor(woe * 1e7).cast("bigint").alias("woe_lp7"),
        F.floor(share_diff * woe * 1e7).cast("bigint")
        .alias("iv_contrib_lp7"))
        .orderBy("c_mktsegment"))


QUERIES["woe_encoding"] = woe_encoding

ORACLE_SQL["woe_encoding"] = f"""
    WITH active AS (
        SELECT o_custkey,
               max(CASE WHEN o_orderdate >= TIMESTAMP '{WOE_CUTOFF}'
                        THEN 1 ELSE 0 END) AS is_pos
        FROM orders GROUP BY 1
    ), labeled AS (
        SELECT c.c_mktsegment, COALESCE(a.is_pos, 0) AS is_pos
        FROM customer c LEFT JOIN active a ON c.c_custkey = a.o_custkey
    ), seg AS (
        SELECT c_mktsegment,
               CAST(sum(is_pos) AS BIGINT) AS n_pos,
               CAST(sum(1 - is_pos) AS BIGINT) AS n_neg
        FROM labeled GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n_pos) AS BIGINT) AS pos_tot,
               CAST(sum(n_neg) AS BIGINT) AS neg_tot,
               CAST(count(*) AS BIGINT) AS n_seg
        FROM seg
    )
    SELECT c_mktsegment, n_pos, n_neg,
           CAST(floor(ln(
               CAST(n_pos + 1 AS DOUBLE)
               * CAST(neg_tot + n_seg AS DOUBLE)
               / CAST(n_neg + 1 AS DOUBLE)
               / CAST(pos_tot + n_seg AS DOUBLE)) * 1e7) AS BIGINT)
               AS woe_lp7,
           CAST(floor(
               (CAST(n_pos + 1 AS DOUBLE)
                    / CAST(pos_tot + n_seg AS DOUBLE)
                - CAST(n_neg + 1 AS DOUBLE)
                    / CAST(neg_tot + n_seg AS DOUBLE))
               * ln(CAST(n_pos + 1 AS DOUBLE)
                    * CAST(neg_tot + n_seg AS DOUBLE)
                    / CAST(n_neg + 1 AS DOUBLE)
                    / CAST(pos_tot + n_seg AS DOUBLE)) * 1e7)
               AS BIGINT) AS iv_contrib_lp7
    FROM seg CROSS JOIN tot
    ORDER BY c_mktsegment
"""


def gains_lift_table(spark: SparkSession, sf_dir: str,
                     cutoff: str = WOE_CUTOFF,
                     n_bins: int = GAINS_N_BINS) -> DataFrame:
    """Gains/lift table — the standard model-evaluation readout:
    customers are scored by pre-cutoff spend (the 'model'), cut into
    spend deciles, and each decile reports its post-cutoff repeat
    rate, the cumulative capture of all repeat customers (gains),
    and lift vs the base rate. The leakage discipline matches
    cf_holdout_hitrate: the score sees only pre-cutoff data, the
    target only post-cutoff.

    Determinism: spend is an exact decimal sum; decile assignment is
    the two-pass distributed rank + ntile_from_rank (bit-identical
    to SQL ntile, so the oracle keeps the plain window; ties break
    on custkey); rates/gains/lift are single double divisions over
    exact integers, floored at micro.

    Shape: cheap columnar orders scans feed both sides (pre-cutoff
    spend agg, post-cutoff repeat flags); the ranked frame is
    customer-tier and never crosses an unpartitioned window; the
    readout is n_bins rows. The split scan is deliberately NOT
    persisted (round 12, guide §5): the ranking stack's scalar-
    subquery jobs launch concurrently and race an unbuilt cache —
    profiled with the persist, the scan materialized 8x anyway
    (in=2.4MB per subquery job) while the cache write defeated
    column pruning; without it the same subqueries read pruned
    columns (jobs 35 → 14, interleaved A/B 2.1-2.6s → 1.0-1.8s).
    Persisting IS still right when the cached derivation is
    expensive (quality_bins' tokenized scores); a raw projected
    scan is cheaper to rescan than to cache-and-race."""
    from simpleetlpipeline_spark.operators.aggregates import (
        ntile_from_rank, two_pass_global_window)

    orders = (
        read_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice",
                (F.col("o_orderdate") < ts_lit(cutoff)).alias("is_pre")))
    spend = (orders.filter("is_pre")
             .groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .alias("spend")))
    repeat = (orders.filter(~F.col("is_pre"))
              .select("o_custkey").distinct()
              .withColumn("is_repeat", F.lit(1)))
    scored = (spend.join(repeat, "o_custkey", "left")
              .select("o_custkey", "spend",
                      F.coalesce("is_repeat", F.lit(0)).alias("is_repeat"),
                      (-F.col("spend")).alias("neg_spend")))
    ranked = two_pass_global_window(
        scored, "neg_spend", [F.col("neg_spend"), F.col("o_custkey")],
        rank_out="__r", total_rows_out="__n")
    deciled = ranked.select(
        "is_repeat",
        ntile_from_rank(F.col("__r"), F.col("__n"), n_bins)
        .alias("decile"))
    per = (deciled.groupBy("decile")
           .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                F.sum("is_repeat").cast("long").alias("n_repeat")))
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    tot = per.agg(F.sum("n_customers").cast("long").alias("nt"),
                  F.sum("n_repeat").cast("long").alias("rt"))
    return (per.crossJoin(F.broadcast(tot))
            .withColumn("cum_repeat",
                        F.sum("n_repeat").over(w_cum).cast("long"))
            .select(
                "decile", "n_customers", "n_repeat",
                F.floor(F.col("n_repeat") / F.col("n_customers") * 1e6)
                .cast("bigint").alias("repeat_rate_micro"),
                F.floor(F.col("cum_repeat") / F.col("rt") * 1e6)
                .cast("bigint").alias("cum_gain_micro"),
                F.floor(F.col("n_repeat") * F.col("nt").cast("double")
                        / (F.col("n_customers") * F.col("rt")
                           .cast("double")) * 1e6)
                .cast("bigint").alias("lift_micro"))
            .orderBy("decile"))


QUERIES["gains_lift_table"] = gains_lift_table


def gains_lift_oracle(cutoff: str = WOE_CUTOFF,
                      n_bins: int = GAINS_N_BINS) -> str:
    """Oracle twin as a BUILDER over the same parameters as the
    Spark function, so non-default calls can be parity-checked too
    (tests/test_functions.py::test_parameterized_oracle_parity);
    ORACLE_SQL pins the defaults — identical to the Spark defaults
    by construction because both sides read the same constants."""
    return f"""
    WITH spend AS (
        SELECT o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders WHERE o_orderdate < TIMESTAMP '{cutoff}'
        GROUP BY 1
    ), repeat AS (
        SELECT DISTINCT o_custkey, 1 AS is_repeat
        FROM orders WHERE o_orderdate >= TIMESTAMP '{cutoff}'
    ), scored AS (
        SELECT s.o_custkey, s.spend,
               COALESCE(r.is_repeat, 0) AS is_repeat
        FROM spend s LEFT JOIN repeat r USING (o_custkey)
    ), deciled AS (
        SELECT is_repeat,
               ntile({n_bins}) OVER
                   (ORDER BY spend DESC, o_custkey ASC) AS decile
        FROM scored
    ), per AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(is_repeat) AS BIGINT) AS n_repeat
        FROM deciled GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n_customers) AS BIGINT) AS nt,
               CAST(sum(n_repeat) AS BIGINT) AS rt
        FROM per
    )
    SELECT decile, n_customers, n_repeat,
           CAST(floor(CAST(n_repeat AS DOUBLE)
                      / CAST(n_customers AS DOUBLE) * 1e6) AS BIGINT)
               AS repeat_rate_micro,
           CAST(floor(CAST(sum(n_repeat) OVER (
                           ORDER BY decile
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                      / CAST(rt AS DOUBLE) * 1e6) AS BIGINT)
               AS cum_gain_micro,
           CAST(floor(CAST(n_repeat AS DOUBLE) * CAST(nt AS DOUBLE)
                      / (CAST(n_customers AS DOUBLE)
                         * CAST(rt AS DOUBLE)) * 1e6) AS BIGINT)
               AS lift_micro
    FROM per CROSS JOIN tot
    ORDER BY decile
"""


ORACLE_SQL["gains_lift_table"] = gains_lift_oracle()


def quantile_normalize_quality(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of the quality score: each
    document gets its percentile WITHIN its source (share of the
    source's docs scoring strictly below it) — the cross-source
    calibration step before mixing corpora whose raw quality scales
    differ (one source's 0.6 is another's 0.9; percentiles compare).

    Determinism: the score is doc_stats' already-floored 4dp double
    (grouping doubles is safe here because both engines derive the
    identical bits — the doc_stats oracle is hash-green on exactly
    these values); the percentile is pure integer arithmetic,
    (rows_strictly_below * 1e6) div source_count.

    Shape: one docs pass to the (source, score) SPINE (domain-
    bounded: <= |sources| x 10^4 distinct floored scores, map-side
    combined) -> per-source cumulative window over the spine (spine
    tier, never raw docs) -> broadcast back onto the doc stream.
    100 TB of documents still cross one spine-sized broadcast.

    Round 11: scores come from doc_token_profile with `source`
    riding as an extra group key — one codegen explode-agg whose
    exchange BOTH consumers (the spine aggregate and the join-back
    stream) reuse, so the quality expression evaluates once per
    document. The previous doc_id equi-join against doc_stats paid
    an extra corpus-wide hash join for the same materialization
    point, and a fully narrow inline form is worse still (no
    exchange to reuse -> the interpreted stopword filter runs twice
    per document; measured 2.4s vs 0.8s at sf0.1)."""
    from simpleetlpipeline_spark.functions.text import doc_token_profile
    from simpleetlpipeline_spark.io import read_table as _rt

    docs = doc_token_profile(
        _rt(spark, sf_dir, "documents"),
        extra={"source": F.col("source")},
    ).select("doc_id", "source", "quality_score")
    spine = (docs.groupBy("source", "quality_score")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    w = (Window.partitionBy("source").orderBy("quality_score")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = (Window.partitionBy("source")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    pct = (spine.select(
        "source", "quality_score",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("__below"),
        F.sum("cnt").over(wn).alias("__n"))
        .select("source", "quality_score",
                F.expr("__below * 1000000 div __n").alias("pct_micro")))
    return docs.join(F.broadcast(pct), ["source", "quality_score"]) \
        .select("doc_id", "source", "quality_score", "pct_micro")


QUERIES["quantile_normalize_quality"] = quantile_normalize_quality

from simpleetlpipeline_spark.functions.text import (  # noqa: E402
    _STOPWORDS_SQL)

ORACLE_SQL["quantile_normalize_quality"] = f"""
    WITH t AS (
        SELECT doc_id, source,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, source,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL}))
                    AS BIGINT) AS n_stopwords
        FROM t
    ), q AS (
        SELECT doc_id, source,
               floor(least(1.0, n_tokens / 50.0)
                     * (1 - n_stopwords / n_tokens) * 10000) / 10000
                   AS quality_score
        FROM s
    ), spine AS (
        SELECT source, quality_score,
               CAST(count(*) AS BIGINT) AS cnt
        FROM q GROUP BY 1, 2
    ), pct AS (
        SELECT source, quality_score,
               CAST((sum(cnt) OVER (PARTITION BY source
                                    ORDER BY quality_score
                                    ROWS UNBOUNDED PRECEDING) - cnt)
                    * 1000000
                    // sum(cnt) OVER (PARTITION BY source) AS BIGINT)
                   AS pct_micro
        FROM spine
    )
    SELECT q.doc_id, q.source, q.quality_score, p.pct_micro
    FROM q JOIN pct p USING (source, quality_score)
"""


def calibration_reliability(spark: SparkSession, sf_dir: str,
                            cutoff: str = WOE_CUTOFF,
                            n_bins: int = GAINS_N_BINS) -> DataFrame:
    """Reliability diagram + Brier decomposition inputs — the
    calibration readout gains_lift_table's discrimination view
    doesn't cover: a model can rank perfectly (high lift) while its
    probabilities are badly calibrated. The 'model' converts each
    customer's pre-cutoff spend rank into a predicted repeat
    probability p = (n - rank + 1)/n (the rank-percentile score);
    the target is the post-cutoff repeat flag. Per spend decile the
    output carries the exact ingredients of ECE and the Brier score:
    sum ECE = sum(cal_gap_e6) / (1e6 * N), Brier =
    sum(brier_sum_e12) / (1e12 * N).

    Determinism: p is the exact integer micro-probability
    (n - rank + 1) * 1e6 div n (BIGINT div == DuckDB //); the
    per-bin gap |sum(p_micro) - 1e6 * sum(y)| and squared-error sum
    (p_micro - 1e6*y)^2 fold as integers/DECIMAL(38,0) — no float
    ever enters an aggregation.

    Shape: the gains_lift skeleton — unpersisted split scan (cheap
    projected columnar reads; the round-12 raw-scan persist raced
    its own subqueries and was removed), two-pass distributed rank
    (never an unpartitioned window over the customer tier),
    ntile_from_rank deciles, one n_bins-row hash aggregate."""
    from simpleetlpipeline_spark.operators.aggregates import (
        ntile_from_rank, two_pass_global_window)

    orders = (
        read_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice",
                (F.col("o_orderdate") < ts_lit(cutoff)).alias("is_pre")))
    spend = (orders.filter("is_pre")
             .groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .alias("spend")))
    repeat = (orders.filter(~F.col("is_pre"))
              .select("o_custkey").distinct()
              .withColumn("is_repeat", F.lit(1)))
    scored = (spend.join(repeat, "o_custkey", "left")
              .select("o_custkey", "spend",
                      F.coalesce("is_repeat", F.lit(0)).alias("is_repeat"),
                      (-F.col("spend")).alias("neg_spend")))
    ranked = two_pass_global_window(
        scored, "neg_spend", [F.col("neg_spend"), F.col("o_custkey")],
        rank_out="__r", total_rows_out="__n")
    p_micro = F.expr("(__n - __r + 1) * 1000000 div __n")
    err = p_micro - F.col("is_repeat").cast("long") * F.lit(1_000_000)
    binned = ranked.select(
        ntile_from_rank(F.col("__r"), F.col("__n"), n_bins)
        .alias("decile"),
        p_micro.alias("p_micro"),
        F.col("is_repeat").cast("long").alias("y"),
        (err * err).cast("decimal(38,0)").alias("sq"))
    return (binned.groupBy("decile")
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                 F.sum("p_micro").cast("long").alias("sum_p_micro"),
                 F.sum("y").cast("long").alias("n_repeat"),
                 F.abs(F.sum("p_micro")
                       - F.sum("y") * F.lit(1_000_000))
                 .cast("long").alias("cal_gap_e6"),
                 # Digit string, not DECIMAL(38,0): INT128-backed
                 # oracle outputs float-convert under pandas fetch
                 # (the r8 root cause; tests/test_oracle_types.py).
                 F.sum("sq").cast("decimal(38,0)").cast("string")
                 .alias("brier_sum_e12"))
            .orderBy("decile"))


QUERIES["calibration_reliability"] = calibration_reliability


def calibration_oracle(cutoff: str = WOE_CUTOFF,
                       n_bins: int = GAINS_N_BINS) -> str:
    """Parameterized oracle twin (same contract as
    gains_lift_oracle: non-default calls stay parity-checkable)."""
    return f"""
    WITH o AS (
        SELECT o_custkey, o_totalprice,
               o_orderdate < TIMESTAMP '{cutoff}' AS is_pre
        FROM orders
    ), spend AS (
        SELECT o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM o WHERE is_pre GROUP BY 1
    ), repeat AS (
        SELECT DISTINCT o_custkey, 1 AS is_repeat
        FROM o WHERE NOT is_pre
    ), scored AS (
        SELECT s.o_custkey, s.spend,
               COALESCE(r.is_repeat, 0) AS is_repeat
        FROM spend s LEFT JOIN repeat r USING (o_custkey)
    ), ranked AS (
        SELECT is_repeat,
               row_number() OVER (ORDER BY spend DESC, o_custkey ASC)
                   AS r,
               count(*) OVER () AS n,
               ntile({n_bins}) OVER
                   (ORDER BY spend DESC, o_custkey ASC) AS decile
        FROM scored
    ), p AS (
        SELECT decile,
               (n - r + 1) * 1000000 // n AS p_micro,
               CAST(is_repeat AS BIGINT) AS y
        FROM ranked
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(p_micro) AS BIGINT) AS sum_p_micro,
           CAST(sum(y) AS BIGINT) AS n_repeat,
           CAST(abs(sum(p_micro) - 1000000 * sum(y)) AS BIGINT)
               AS cal_gap_e6,
           CAST(CAST(sum((p_micro - 1000000 * y)
                         * (p_micro - 1000000 * y))
                     AS DECIMAL(38,0)) AS VARCHAR) AS brier_sum_e12
    FROM p
    GROUP BY 1
    ORDER BY decile
"""


ORACLE_SQL["calibration_reliability"] = calibration_oracle()
