"""End-to-end training-corpus curation.

The flagship composition for the 100 TB framing: the quality filter,
language filter, exact dedup, and near-dup removal that a large-scale
training-data pipeline chains in front of tokenization — the same
arithmetic as the oracled doc_stats/lang_id/doc_fingerprint
operators, evaluated in one pass via text.doc_token_profile (plus
dedup.dedup_clusters for the near-dup variant).

corpus_curate        — deterministic, fully SQL-expressible stages
                       (quality >= threshold, detected 'en', keep the
                       min doc_id per md5 fingerprint) — DuckDB-
                       oracled end to end.
corpus_curate_neardup — adds MinHash-LSH near-dup cluster removal
                       (keep each cluster's canonical doc). DuckDB-
                       oracled since round 11 against the ground-
                       truth pair graph (dedup._MINHASH_PAIRS_SQL):
                       oracle equality attests the LSH stage's
                       perfect recall on the fixture, on top of the
                       structure unit tests.

Scale: stats/lang/fingerprint are narrow projections joined on
doc_id (Catalyst collapses the shared scan where possible; each stage
alone is shuffle-free), exact dedup is one window shuffle keyed by
the 128-bit fingerprint (uniform — no skew), and near-dup removal is
the LSH pair graph + connected components from dedup.py: everything
linear in corpus size, nothing all-pairs, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simpleetlpipeline_spark.functions.dedup import (
    _MINHASH_PAIRS_SQL,
    dedup_cluster_frame,
    word_ngram_hashes_col,
)
from simpleetlpipeline_spark.io import fan_out, read_table
from simpleetlpipeline_spark.functions.text import (
    _STOPWORDS_SQL,
    _lang_case,
    _lang_hits_sql,
    LANG_MARKERS,
    doc_token_profile,
    tokens_col,
)

QUALITY_THRESHOLD = 0.3
KEEP_LANG = "en"


def corpus_curate(spark: SparkSession, sf_dir: str,
                  quality_threshold: float = QUALITY_THRESHOLD,
                  keep_lang: str = KEEP_LANG) -> DataFrame:
    """Quality filter -> language filter -> exact dedup (min doc_id
    per md5 fingerprint); returns the surviving corpus manifest.

    SINGLE-SCAN since round 10 (the round-9 verdict's sf1-tail
    diagnosis): the original form joined three derived frames
    (doc_stats ⋈ lang_id ⋈ doc_fingerprint on doc_id), but all
    three stages are per-row projections of the SAME documents
    scan, so the joins bought three corpus scans, three
    tokenizations, and two doc_id shuffles for nothing — at 100 TB
    that is 200 TB of extra read. Now one scan feeds
    text.doc_token_profile (explode + codegen IN-set aggregation —
    see its docstring for why that beats interpreted higher-order
    filter() counts by ~2.3x on the linear term), with the md5
    fingerprint carried through the profile aggregation; the only
    other shuffle is the fingerprint-keyed dedup window. Measured
    sf1: 5.2s (three-join form) -> ~2.3s."""
    docs = read_table(spark, sf_dir, "documents")
    survivors = (
        doc_token_profile(
            docs,
            extra={"md5_fingerprint":
                   F.md5(F.col("text").cast("binary"))})
        .filter((F.col("quality_score") >= quality_threshold)
                & (F.col("detected_lang") == keep_lang))
    )
    w = Window.partitionBy("md5_fingerprint").orderBy("doc_id")
    return (
        survivors.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "detected_lang", "n_tokens", "quality_score")
    )


def corpus_curate_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curate plus near-dup removal: every non-canonical
    member of a MinHash-LSH cluster (dedup.dedup_cluster_frame) is
    dropped. Hash-oracled since round 11 (see ORACLE_SQL below)."""
    kept = corpus_curate(spark, sf_dir)
    clusters = dedup_cluster_frame(spark, sf_dir)
    drops = (
        clusters.select(
            F.explode("members").alias("doc_id"), "keep_doc_id")
        .filter(F.col("doc_id") != F.col("keep_doc_id"))
        .select("doc_id")
    )
    return kept.join(drops, "doc_id", "left_anti")


#: Decontamination parameters: 5-token shingles, >=3 shared shingles
#: flags a document, every 20th doc (doc_id % 20 == 7) plays the
#: held-out benchmark set on the synthetic corpus.
DECON_NGRAM = 5
DECON_MIN_OVERLAP = 3
BENCH_MOD, BENCH_REM = 20, 7


#: Above this estimated blocklist size the decontamination gram join
#: stops forcing a broadcast and lets the gram-keyed shuffle join
#: plan instead (same threshold reasoning as similarity's
#: EXACT_NEARDUP_MAX_BYTES: a forced broadcast of an unexpectedly
#: huge build side OOMs executors mid-stage; a shuffle join just
#: costs a shuffle). Estimated driver-side from the benchmark
#: table's on-disk size — no job.
DECON_BROADCAST_MAX_BYTES = 64 << 20


def decontaminate(spark: SparkSession, sf_dir: str,
                  ngram: int = DECON_NGRAM,
                  min_overlap: int = DECON_MIN_OVERLAP,
                  broadcast_max_bytes: int = DECON_BROADCAST_MAX_BYTES,
                  ) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    >= min_overlap distinct word n-grams with a held-out benchmark
    set — the overlap filter every serious pretraining pipeline runs
    so eval questions don't leak into the training corpus.

    Here the 'benchmark' is a deterministic slice of the documents
    table (doc_id % 20 == 7); in production it would be a separate
    eval-suite table — the plan is identical.

    Scale: the benchmark gram set is DISTINCT 8-byte hashes of a
    benchmark suite (MBs even for all public evals), so it normally
    broadcasts; the corpus side is one narrow explode + broadcast
    semi-join + groupBy(doc_id) — linear, one shuffle keyed by
    doc_id. The broadcast is GUARDED, not assumed: past
    broadcast_max_bytes (estimated driver-side from the benchmark
    source's on-disk size, no job) the hint is dropped and the same
    plan shuffles on the gram hash — a blocklist that quietly grew to
    GBs costs a shuffle instead of OOMing every executor
    (plan-shape pinned both ways in test_plans.py).

    Returns the full corpus manifest (doc_id, n_overlap,
    contaminated) so downstream filters can choose their own
    threshold.
    """
    from simpleetlpipeline_spark.functions.similarity import _table_bytes

    docs = fan_out(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        word_ngram_hashes_col(F.col("text"), ngram).alias("grams"))
    is_bench = (F.col("doc_id") % BENCH_MOD) == BENCH_REM
    bench_grams = (
        docs.filter(is_bench)
        .select(F.explode("grams").alias("g")).distinct())
    # The synthetic benchmark is a 1/BENCH_MOD slice of documents;
    # a real eval-suite table would use its own footprint here.
    if _table_bytes(sf_dir, "documents") // BENCH_MOD \
            <= broadcast_max_bytes:
        bench_grams = F.broadcast(bench_grams)
    corpus = docs.filter(~is_bench)
    overlap = (
        corpus.select("doc_id", F.explode("grams").alias("g"))
        .join(bench_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        corpus.select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("__n"), F.lit(0)) >= min_overlap)
            .alias("contaminated"),
        )
    )


#: Data-mixing fractions per language: the sampling weights a mixing
#: recipe assigns each slice of the corpus (per ten-thousand).
MIX_FRACTIONS = {"en": 10000, "es": 5000, "fr": 5000, "de": 5000}
MIX_DEFAULT = 2500
#: Knuth multiplicative-hash constant — decorrelates the sampling
#: ticket from doc_id order without engine-specific hash functions.
_MIX_MULT = 2654435761


def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified data-mixing sample: keep each document with a
    per-language probability (MIX_FRACTIONS), decided by a
    deterministic multiplicative-hash ticket on doc_id — the
    downsampling step that turns raw corpus slices into a training
    mixture with chosen proportions.

    Scale: a pure narrow filter — no shuffle, no RNG state, same
    rows on every run and every engine (the ticket is plain integer
    arithmetic, so the DuckDB oracle reproduces it exactly).
    Reproducibility is the point: a mixing manifest must be stable
    across reruns and engines or downstream token counts drift.
    """
    ticket = F.pmod(F.col("doc_id") * F.lit(_MIX_MULT), F.lit(10000))
    keep_per_10k = F.coalesce(
        *[F.when(F.col("lang") == lang, F.lit(frac))
          for lang, frac in MIX_FRACTIONS.items()],
        F.lit(MIX_DEFAULT))
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", ticket.alias("__t"),
                keep_per_10k.alias("__k"))
        .filter(F.col("__t") < F.col("__k"))
        .select("doc_id", "lang", "source")
    )


QUERIES = {
    "corpus_curate": corpus_curate,
    "corpus_curate_neardup": corpus_curate_neardup,  # hash-oracled r11
    "decontaminate": decontaminate,
    "corpus_mix_sample": corpus_mix_sample,
}

# Shared CTE chain for the curate oracles: `curated` is the full
# corpus_curate result (quality/lang filters + exact-dedup QUALIFY).
# Kept as a fragment so corpus_curate_neardup can apply its cluster
# drop AFTER the QUALIFY — filtering before it would promote the
# next doc of an md5 group whose min-id member is a near-dup drop,
# which is not what the Spark side (anti-join on the final result)
# does.
_CURATE_CTES = f"""
        t AS (
            SELECT doc_id, text, lang,
                   string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, text, lang,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL}))
                        AS BIGINT) AS n_stopwords,
                   {_lang_hits_sql}
            FROM t
        ), b AS (
            SELECT *,
                   greatest({", ".join("hits_" + x for x in LANG_MARKERS)})
                       AS best,
                   floor(least(1.0, n_tokens / 50.0)
                         * (1 - n_stopwords / n_tokens) * 10000) / 10000
                       AS quality_score,
                   md5(text) AS md5_fingerprint
            FROM s
        ), kept AS (
            SELECT doc_id,
                   {_lang_case} AS detected_lang,
                   n_tokens, quality_score, md5_fingerprint
            FROM b
            WHERE quality_score >= {QUALITY_THRESHOLD}
              AND {_lang_case} = '{KEEP_LANG}'
        ), curated AS (
            SELECT doc_id, detected_lang, n_tokens, quality_score
            FROM kept
            QUALIFY row_number() OVER (PARTITION BY md5_fingerprint
                                       ORDER BY doc_id) = 1
        )
"""

ORACLE_SQL = {
    "corpus_curate": f"""
        WITH {_CURATE_CTES}
        SELECT * FROM curated
    """,
    # corpus_curate + near-dup removal: drop every cluster member
    # that is not its component's min id, with clusters recomputed
    # from the ground-truth pair graph (_MINHASH_PAIRS_SQL — oracle
    # equality attests the LSH stage's perfect recall, same contract
    # as the dedup_minhash_lsh / dedup_clusters oracles).
    "corpus_curate_neardup": f"""
        WITH RECURSIVE {_MINHASH_PAIRS_SQL}
        , sym AS (
            SELECT a_id AS a, b_id AS b FROM mh_pairs
            UNION
            SELECT b_id, a_id FROM mh_pairs
        ), reach(n, m) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.n, s2.b FROM reach r JOIN sym s2 ON s2.a = r.m
        ), drops AS (
            SELECT n AS doc_id FROM (
                SELECT n, min(m) AS component FROM reach GROUP BY n
            ) WHERE n != component
        ), {_CURATE_CTES.lstrip()}
        SELECT * FROM curated
        WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    # String n-grams here vs 64-bit gram hashes Spark-side: identical
    # sets modulo xxhash64 collisions (~1e-9 per corpus) — same
    # equivalence the dedup_ngram_jaccard oracle relies on.
    "decontaminate": f"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(t) - {DECON_NGRAM}, 0) + 2),
                       i -> array_to_string(
                           list_slice(t, i, i + {DECON_NGRAM - 1}), ' ')
                   )) AS g
            FROM toks
        ), ex AS (
            SELECT doc_id, unnest(g) AS gr FROM grams
        ), bench AS (
            SELECT DISTINCT gr FROM ex
            WHERE doc_id % {BENCH_MOD} = {BENCH_REM}
        ), ov AS (
            SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n
            FROM ex e JOIN bench USING (gr)
            WHERE e.doc_id % {BENCH_MOD} != {BENCH_REM}
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap,
               coalesce(ov.n, 0) >= {DECON_MIN_OVERLAP} AS contaminated
        FROM documents d
        LEFT JOIN ov ON ov.doc_id = d.doc_id
        WHERE d.doc_id % {BENCH_MOD} != {BENCH_REM}
    """,
    "corpus_mix_sample": f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE (doc_id * {_MIX_MULT}) % 10000 <
              CASE {" ".join(f"WHEN lang = '{lang}' THEN {frac}"
                             for lang, frac in MIX_FRACTIONS.items())}
                   ELSE {MIX_DEFAULT} END
    """,
}


def corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus health report — the dashboard a
    data-curation team watches: volume, token budget, quality mass,
    and exact-duplicate pressure per slice.

    Every measure is an INTEGER aggregate (quality rides as the
    4dp-floored score scaled to int, summed exactly; duplicates as
    docs minus distinct fingerprints), so the result is bit-stable
    across engines and partitionings — no float-sum ordering anywhere.
    One hash aggregate over a narrow projection; distinct fingerprints
    via count_distinct on the 128-bit md5 (uniform, no skew).
    """
    docs = read_table(spark, sf_dir, "documents")
    from simpleetlpipeline_spark.functions.text import STOPWORDS, tokens_col

    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    quality_i4 = F.floor(
        F.least(F.lit(1.0), n_tokens / F.lit(50.0))
        * (1 - stop_hits / n_tokens) * 10000).cast("long")
    base = docs.select(
        "source", "lang", n_tokens.alias("n"),
        quality_i4.alias("q4"),
        F.md5(F.col("text").cast("binary")).alias("fp"))
    return (
        base.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.sum("q4").alias("quality_sum_4dp"),
            (F.count(F.lit(1)) - F.count_distinct("fp")).alias("n_dup_rows"),
        )
    )


QUERIES["corpus_health"] = corpus_health

ORACLE_SQL["corpus_health"] = f"""
    WITH t AS (
        SELECT source, lang, text,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), s AS (
        SELECT source, lang,
               CAST(len(toks) AS BIGINT) AS n,
               CAST(floor(least(1.0, len(toks) / 50.0)
                    * (1 - len(list_filter(toks,
                          x -> x IN {_STOPWORDS_SQL})) * 1.0 / len(toks))
                    * 10000) AS BIGINT) AS q4,
               md5(text) AS fp
        FROM t
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(q4) AS BIGINT) AS quality_sum_4dp,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_rows
    FROM s
    GROUP BY 1, 2
"""


PREP_SHARDS = 8


def pretrain_prepare_report(spark: SparkSession, sf_dir: str,
                            n_shards: int = PREP_SHARDS) -> DataFrame:
    """The whole pretraining data-prep funnel as ONE lazy plan — the
    single-row readiness report a training run gates on: input
    volume, survivors of each curation stage (quality -> language ->
    exact dedup), the train/val/test split of the kept corpus, the
    train-token budget with its packed-sequence count, and the
    output-shard balance (max/min shard token load — a hot shard
    here is a straggler task at the 100 TB write).

    Every number is an exact integer, every stage reuses an already-
    oracled operator's arithmetic (doc_stats quality, lang_id argmax,
    md5 dedup, the multiplicative split/shard tickets, PACK_CTX
    cutting), and Catalyst fuses the shared scans — the report costs
    roughly one pass over the corpus plus the dedup window shuffle,
    not seven pipelines.
    """
    from simpleetlpipeline_spark.functions.pretrain import (
        _SHARD_HASH_A,
        _SHARD_HASH_MOD,
        _SPLIT_MULT,
        PACK_CTX,
        SPLIT_BOUNDS,
    )
    # Single-scan enrichment (round 10, same diagnosis as
    # corpus_curate): quality/language/fingerprint all derive from
    # ONE documents scan via text.doc_token_profile (explode +
    # codegen IN-set agg, md5 carried through the aggregation),
    # replacing the former doc_stats ⋈ lang_id ⋈ doc_fingerprint
    # three-scan, two-shuffle join block.
    from simpleetlpipeline_spark.cache import track

    docs = read_table(spark, sf_dir, "documents")
    # Persisted: the funnel aggregate and the dedup/split branch
    # both consume this frame — without the persist each branch
    # re-runs the profile's corpus pass. The cached projection is a
    # few small columns per document.
    enriched = track(
        doc_token_profile(
            docs,
            extra={"md5_fingerprint":
                   F.md5(F.col("text").cast("binary"))})
        .select("doc_id", "n_tokens", "md5_fingerprint",
                (F.col("quality_score") >= QUALITY_THRESHOLD)
                .alias("q_ok"),
                (F.col("detected_lang") == KEEP_LANG).alias("l_ok"))
        .persist())
    funnel = enriched.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(F.col("q_ok"), 1).otherwise(0)).alias("n_quality"),
        F.sum(F.when(F.col("q_ok") & F.col("l_ok"), 1).otherwise(0))
        .alias("n_lang"))
    w = Window.partitionBy("md5_fingerprint").orderBy("doc_id")
    kept = (
        enriched.filter(F.col("q_ok") & F.col("l_ok"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    ticket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(10000)) * F.lit(_SPLIT_MULT),
        F.lit(10000))
    split = (F.when(ticket < SPLIT_BOUNDS[0], F.lit("train"))
             .when(ticket < SPLIT_BOUNDS[1], F.lit("val"))
             .otherwise(F.lit("test")))
    splat = kept.select("doc_id", "n_tokens", split.alias("split"))
    split_agg = splat.agg(
        F.count(F.lit(1)).alias("n_dedup"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .alias("n_test"),
        F.sum(F.when(F.col("split") == "train", F.col("n_tokens"))
              .otherwise(F.lit(0))).alias("train_tokens"))
    shard = F.pmod((F.col("doc_id") * _SHARD_HASH_A) % _SHARD_HASH_MOD,
                   F.lit(n_shards))
    shard_agg = (
        splat.filter(F.col("split") == "train")
        .groupBy(shard.alias("shard"))
        .agg(F.sum("n_tokens").alias("t"))
        .agg(F.max("t").alias("max_shard_tokens"),
             F.min("t").alias("min_shard_tokens")))
    return (
        funnel.crossJoin(F.broadcast(split_agg))
        .crossJoin(F.broadcast(shard_agg))
        .select("n_input", "n_quality", "n_lang", "n_dedup",
                "n_train", "n_val", "n_test", "train_tokens",
                F.ceil(F.col("train_tokens") / PACK_CTX)
                .cast("long").alias("n_train_packs"),
                "max_shard_tokens", "min_shard_tokens")
    )


QUERIES["pretrain_prepare_report"] = pretrain_prepare_report


def _prep_oracle() -> str:
    from simpleetlpipeline_spark.functions.pretrain import (
        _SHARD_HASH_A,
        _SHARD_HASH_MOD,
        _SPLIT_MULT,
        PACK_CTX,
        SPLIT_BOUNDS,
    )

    split_case = f"""CASE
        WHEN ((doc_id % 10000) * {_SPLIT_MULT}) % 10000
             < {SPLIT_BOUNDS[0]} THEN 'train'
        WHEN ((doc_id % 10000) * {_SPLIT_MULT}) % 10000
             < {SPLIT_BOUNDS[1]} THEN 'val'
        ELSE 'test' END"""
    return f"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, text,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL}))
                        AS BIGINT) AS n_stopwords,
                   {_lang_hits_sql}
            FROM t
        ), b AS (
            SELECT *,
                   greatest({", ".join("hits_" + x for x in LANG_MARKERS)})
                       AS best,
                   floor(least(1.0, n_tokens / 50.0)
                         * (1 - n_stopwords / n_tokens) * 10000) / 10000
                       AS quality_score,
                   md5(text) AS md5_fingerprint
            FROM s
        ), e AS (
            SELECT doc_id, n_tokens, md5_fingerprint,
                   quality_score >= {QUALITY_THRESHOLD} AS q_ok,
                   {_lang_case} = '{KEEP_LANG}' AS l_ok
            FROM b
        ), funnel AS (
            SELECT count(*) AS n_input,
                   CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_quality,
                   CAST(sum(CASE WHEN q_ok AND l_ok THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_lang
            FROM e
        ), kept AS (
            SELECT doc_id, n_tokens, {split_case} AS split
            FROM e WHERE q_ok AND l_ok
            QUALIFY row_number() OVER (PARTITION BY md5_fingerprint
                                       ORDER BY doc_id) = 1
        ), sp AS (
            SELECT count(*) AS n_dedup,
                   CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_train,
                   CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_val,
                   CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_test,
                   CAST(sum(CASE WHEN split = 'train' THEN n_tokens
                            ELSE 0 END) AS BIGINT) AS train_tokens
            FROM kept
        ), sh AS (
            SELECT CAST(max(tt) AS BIGINT) AS max_shard_tokens,
                   CAST(min(tt) AS BIGINT) AS min_shard_tokens
            FROM (
                SELECT ((doc_id * {_SHARD_HASH_A}) % {_SHARD_HASH_MOD})
                           % {PREP_SHARDS} AS shard,
                       sum(n_tokens) AS tt
                FROM kept WHERE split = 'train'
                GROUP BY 1
            )
        )
        SELECT n_input, n_quality, n_lang, n_dedup,
               n_train, n_val, n_test, train_tokens,
               CAST(ceil(train_tokens * 1.0 / {PACK_CTX}) AS BIGINT)
                   AS n_train_packs,
               max_shard_tokens, min_shard_tokens
        FROM funnel CROSS JOIN sp CROSS JOIN sh
    """


ORACLE_SQL["pretrain_prepare_report"] = _prep_oracle()
