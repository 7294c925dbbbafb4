"""Text-analysis operators over the documents table.

All hot-path expressions are built-in column functions (split /
regexp / higher-order array functions) — JVM-side, codegen-friendly,
no Python UDFs — so they vectorize identically at sf0.001 and 100 TB.

Operators (north-star inventory):
- tokenization + token counting (whitespace and BPE-ish regex)
- document statistics / quality scoring (length, stopword ratio,
  alpha ratio)
- language ID (stopword-marker n-gram heuristic)
- document fingerprinting (md5 content hash + 64-bit simhash over
  tokens via xxhash64)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simpleetlpipeline_spark.io import read_table

# Small fixed stopword list shared with the SQL oracles — keep in
# sync with _STOPWORDS_SQL below.
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")
_STOPWORDS_SQL = "('the','a','an','of','and','to','in','is','on','for')"

# Language-marker stopwords for the n-gram-free heuristic language
# ID: hit counts per language, argmax with alphabetical tiebreak.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}

# BPE-ish token regex: word pieces, numbers, or single non-space
# symbols — a cheap standalone approximation of byte-pair pretokenization.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def word_gram_strings_expr(n: int, toks_attr: str = "__toks") -> Column:
    """array<string> of word n-grams (space-joined) over an already-
    MATERIALIZED token-array column named `toks_attr` — callers must
    bind the tokenization with withColumn first, because a HOF lambda
    re-evaluates an inline producing expression per element (the
    adjacent_pairs_col lesson).

    Round 12: gram i is built with concat_ws over n direct element
    accesses instead of array_join(slice(...)) — the slice form
    allocates an intermediate n-element array per gram inside the
    interpreted HOF, and dropping it measured ~2x faster on the
    corpus-scale gram construction at sf1 (0.6s vs 1.0s warm for
    2.5M grams) with bit-identical output (join-skips-nulls
    semantics match, and split() never yields null tokens anyway).
    Short docs (< n tokens) yield an empty array."""
    cells = ", ".join(f"{toks_attr}[i + {j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({toks_attr}) >= {n} THEN "
        f"transform(sequence(0, size({toks_attr}) - {n}), "
        f"i -> concat_ws(' ', {cells})) "
        f"ELSE array() END")


def adjacent_pairs_col(toks: Column) -> Column:
    """array<struct<tok_a, tok_b>> of ADJACENT token pairs, O(n).

    The round-5 form indexed the token array inside a
    transform(sequence(...)) lambda — but Spark's higher-order
    functions are interpreted (CodegenFallback) and share no
    subexpressions with the enclosing projection, so EVERY
    ``element_at(toks, i)`` re-evaluated the full split() of the
    document text: O(n_tokens x text_len) per document. Invisible at
    sf0.1 (~1s across the corpus), a 40-90x blowup at sf1
    (bpe_merge_pairs 59s, bigram_doc_logprob 123s; both ~1.5s after
    this rewrite — round-9 measurement). zip_with evaluates each
    ARGUMENT exactly once per row: pair i = (heads[i], tails[i])
    over two slices of the already-materialized token array.

    Empty/1-token docs yield an empty array (the old
    sequence(1, 0) sentinel rows are gone by construction)."""
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.struct(a.alias("tok_a"), b.alias("tok_b")))


def quality_score_col(toks: Column) -> Column:
    """Quality heuristic as a pure column expression (single source
    of truth for doc_stats AND the single-scan corpus_curate):
    length factor min(1, n_tokens/50) times (1 - stopword_ratio),
    truncated to 4dp."""
    n_tokens = F.size(toks).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    return (
        F.floor(
            F.least(F.lit(1.0), n_tokens / F.lit(50.0))
            * (1 - stop_hits / n_tokens) * 10000
        ) / 10000
    )


def _lang_argmax(hits: dict[str, Column]) -> Column:
    """Argmax over per-language marker-hit columns, alphabetical
    tiebreak, 'unknown' when no marker hits."""
    best = F.greatest(*hits.values())
    detected = F.lit("unknown")
    # reverse alphabetical when-chain => earliest alphabetical lang
    # wins ties (each later `when` overrides in build order).
    for lang in sorted(LANG_MARKERS, reverse=True):
        detected = F.when(
            (hits[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(detected)
    return detected


def detected_lang_col(toks: Column) -> Column:
    """Heuristic language-ID as a pure column expression: stopword-
    marker hit counts per language, argmax with alphabetical
    tiebreak ('unknown' when no marker hits). Narrow (no shuffle),
    but each hit count is an interpreted higher-order filter —
    prefer doc_token_profile when several counts are needed over a
    large corpus."""
    # NB: higher-order-function lambdas must be unary — PySpark binds
    # extra (default) parameters to the element index, so closures are
    # captured via a factory instead of default args.
    def _marker_pred(markers: tuple[str, ...]):
        return lambda t: t.isin(*markers)

    hits = {
        lang: F.size(F.filter(toks, _marker_pred(markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }
    return _lang_argmax(hits)


def doc_token_profile(docs: DataFrame,
                      extra: dict[str, Column] | None = None) -> DataFrame:
    """Per-document token profile — n_tokens, stopword hits,
    per-language marker hits, detected_lang, quality_score — via
    explode + codegen'd IN-set aggregation instead of per-row
    higher-order filter() lambdas.

    Why (round-10 sf1-tail diagnosis): Spark's array higher-order
    functions are interpreted (CodegenFallback) and share no
    subexpressions, so six filter(toks, isin) counts evaluate
    ~7 µs/doc of interpreted scan per expression — 3.4 s of pure
    per-token CPU across the sf1 corpus, the LINEAR term that
    dominated corpus_curate/pretrain_prepare_report/quality_bins at
    scale. This form stays inside whole-stage codegen end to end:
    scan -> split once -> explode -> hash-agg keyed on doc_id whose
    partial (map-side) combine collapses the token fan-out BEFORE
    the shuffle, so the exchange carries one small row per document
    no matter the corpus size. Measured sf1: 3.4 s -> 1.5 s for the
    six-count profile, identical values.

    `extra` carries precomputed per-doc columns (e.g. an md5
    fingerprint) through the aggregation as ADDITIONAL GROUP KEYS
    (they are functionally dependent on doc_id, so grouping is
    unchanged) — they ride the codegen pipeline, never a second
    scan or join. Keys, NOT max() aggregates, deliberately: a
    string-typed aggregate buffer (max(md5)) is ineligible for
    HashAggregate and silently demotes the whole plan to
    SortAggregate — a full sort of the exploded token stream, 28 s
    vs 1.5 s at sf1 (measured round 10); string GROUP KEYS live in
    the UnsafeRow key and keep HashAggregate."""
    extra = extra or {}
    # Two-step select, deliberately: expressions in the SAME select
    # as an explode() are planned in the Project ABOVE the Generate
    # and re-evaluate once per EXPLODED row — md5(text) per token is
    # 50M hashes of the full document at sf1 (~28 s, measured).
    # Aliasing the token array and the per-doc expressions first
    # pins them below the Generate (once per document); the
    # exploded stream then carries only the small computed columns,
    # and column pruning drops `text` before the fan-out.
    pre = docs.select(
        "doc_id",
        *[c.alias(name) for name, c in extra.items()],
        tokens_col(F.col("text")).alias("__toks"))
    ex = pre.select(
        "doc_id", *extra,
        F.size("__toks").cast("long").alias("__nt"),
        F.explode_outer("__toks").alias("__t"))
    hit_aggs = [
        F.sum(F.when(F.col("__t").isin(*markers), 1).otherwise(0))
        .cast("long").alias(f"hits_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]
    prof = ex.groupBy("doc_id", *extra).agg(
        F.max("__nt").alias("n_tokens"),
        F.sum(F.when(F.col("__t").isin(*STOPWORDS), 1).otherwise(0))
        .cast("long").alias("n_stopwords"),
        *hit_aggs)
    n, stop = F.col("n_tokens"), F.col("n_stopwords")
    quality = (
        F.floor(
            F.least(F.lit(1.0), n / F.lit(50.0))
            * (1 - stop / n) * 10000
        ) / 10000
    )
    hits = {lang: F.col(f"hits_{lang}") for lang in LANG_MARKERS}
    return prof.select(
        "doc_id", *extra, "n_tokens", "n_stopwords",
        *[f"hits_{lang}" for lang in LANG_MARKERS],
        quality.alias("quality_score"),
        _lang_argmax(hits).alias("detected_lang"))


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics + quality score.

    Quality heuristic (deterministic, SQL-expressible): length factor
    min(1, n_tokens/50) times (1 - stopword_ratio), truncated to 4dp.
    One narrow projection over the scan — no shuffle at any scale.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    chars_no_ws = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    stop_ratio = F.floor(stop_hits / n_tokens * 10000) / 10000
    quality = quality_score_col(toks)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        stop_hits.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        (F.floor(chars_no_ws.cast("double") / n_tokens * 100) / 100)
        .alias("avg_token_len"),
        quality.alias("quality_score"),
    )


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-ish regex pretokenizer —
    the counting a training-data pipeline runs to budget documents.
    """
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_TOKEN_RE), 0))
        .cast("long").alias("n_bpe_tokens"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_ws_tokens"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-marker hit counts per
    language, argmax with alphabetical tiebreak ('unknown' when no
    marker hits). Pure column expressions — no UDF.
    """
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        detected_lang_col(tokens_col(F.col("text")))
        .alias("detected_lang"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of the raw text — the exact-dup /
    lineage key (upgrade of the reference's md5 load checksum,
    main.py:507, to a portable per-document form). The near-dup
    simhash fingerprint lives in dedup.dedup_simhash (xxhash64-based,
    engine-specific, so checked by unit tests instead of the oracle).
    """
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("md5_fingerprint"),
        F.length("text").cast("long").alias("n_chars"),
    )


QUERIES = {
    "doc_stats": doc_stats,
    "token_count_bpe": token_count_bpe,
    "lang_id": lang_id,
    "doc_fingerprint": doc_fingerprint,
}

_lang_hits_sql = ", ".join(
    "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    f"t -> t IN {tuple(m)!r})) AS hits_{lang}".replace('"', "'")
    for lang, m in LANG_MARKERS.items()
)

_lang_case = "CASE " + " ".join(
    f"WHEN hits_{lang} = best AND best > 0 THEN '{lang}'"
    for lang in sorted(LANG_MARKERS)
) + " ELSE 'unknown' END"

ORACLE_SQL = {
    "doc_stats": f"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, text,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL})) AS BIGINT)
                       AS n_stopwords
            FROM t
        )
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               n_tokens,
               n_stopwords,
               floor(n_stopwords / n_tokens * 10000) / 10000 AS stopword_ratio,
               floor(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                     / n_tokens * 100) / 100 AS avg_token_len,
               floor(least(1.0, n_tokens / 50.0)
                     * (1 - n_stopwords / n_tokens) * 10000) / 10000 AS quality_score
        FROM s
    """,
    "token_count_bpe": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}')) AS BIGINT)
                   AS n_bpe_tokens,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
                   AS n_ws_tokens
        FROM documents
    """,
    "lang_id": f"""
        WITH h AS (
            SELECT doc_id, lang, {_lang_hits_sql}
            FROM documents
        ), b AS (
            SELECT *, greatest({", ".join("hits_" + x for x in LANG_MARKERS)}) AS best
            FROM h
        )
        SELECT doc_id,
               lang AS labeled_lang,
               {_lang_case} AS detected_lang
        FROM b
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               md5(text) AS md5_fingerprint,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    """,
}


def term_frequencies(spark: SparkSession, sf_dir: str,
                     top_n: int = 100) -> DataFrame:
    """Corpus term frequencies, top-N by count (deterministic token
    tie-break). explode -> hash agg: map-side combine collapses each
    partition to its vocabulary before the shuffle, so shuffle volume
    is vocab-sized, not token-sized; the top-N plans as
    TakeOrderedAndProject (no global sort materialization)."""
    from simpleetlpipeline_spark.io import fan_out

    # fan_out: tokenization + explode + partial agg run pre-shuffle at
    # the scan's parallelism — serial on a single-file table otherwise.
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top_n)
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Per-document top-k terms by TF-IDF (tf * ln(N/df)).

    Shape: tokenize+explode -> (doc, token) hash agg (tf) -> token
    hash agg (df, one row per distinct doc-token so a plain count is
    document frequency) -> broadcast the single-row corpus count ->
    per-doc top-k window. Every aggregate is map-side partial; the
    window partitions by doc_id (millions of small groups at scale —
    no single-reducer skew).

    Cross-engine determinism: ranking orders by the FLOORED score
    (4dp), not the raw double — Spark's Math.log and DuckDB's ln can
    differ in the last ulp, and ordering by the raw value would let
    that flip neighboring ranks; after flooring, ties break on token.
    """
    from pyspark.sql import Window

    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    terms = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    tf = terms.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("term_count"))
    # doc_freq as a window over the SAME tf stream (tf rows are
    # distinct doc-token pairs, so count(*) per token == document
    # frequency): one tokenization pass and three shuffles total,
    # where a groupBy+self-join would tokenize twice and shuffle four
    # times. The per-token partition is corpus-frequency sized (a
    # stopword's partition is ~n_docs rows) — same skew profile the
    # join formulation would have on its join key.
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w_tok = Window.partitionBy("token")
    scored = (
        tf.withColumn("doc_freq", F.count(F.lit(1)).over(w_tok))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.floor(F.col("term_count")
                    * F.log(F.col("n_docs") / F.col("doc_freq")) * 10000) / 10000)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "term_count", "doc_freq", "rank", "tfidf")
    )


#: Chunking geometry: context-window tokens per chunk and the stride
#: between chunk starts (overlap = CHUNK_CTX - CHUNK_STRIDE).
CHUNK_CTX = 64
CHUNK_STRIDE = 48


def doc_chunk(spark: SparkSession, sf_dir: str,
              ctx: int = CHUNK_CTX,
              stride: int = CHUNK_STRIDE) -> DataFrame:
    """Sliding token-window chunking manifest — the doc→chunk explode
    an embedding/RAG indexing pipeline runs before encoding.

    One chunk starts every `stride` tokens (last start <= n_tokens-1),
    each spanning min(ctx, n - start) tokens; consecutive chunks
    overlap by ctx - stride. Emits per chunk: index, token offset,
    length, and an md5 of the space-joined chunk text so the oracle
    verifies the actual chunk CONTENT, not just the arithmetic.

    Scale: narrow generate (sequence + explode) — each task expands
    its own rows ~n/stride-fold with no shuffle; the natural shape for
    chunking 100 TB of text.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))
    n = F.size(toks).cast("long")
    base = docs.select("doc_id", toks.alias("toks"), n.alias("n_tokens"))
    idx = F.sequence(
        F.lit(0), F.floor((F.col("n_tokens") - 1) / stride).cast("long"))
    ch = base.select(
        "doc_id", "n_tokens", "toks",
        F.explode(idx).alias("chunk_idx"),
    ).withColumn("start_tok", F.col("chunk_idx") * stride)
    chunk_len = F.least(F.lit(ctx).cast("long"),
                        F.col("n_tokens") - F.col("start_tok"))
    chunk_text = F.concat_ws(
        " ", F.slice("toks", F.col("start_tok").cast("int") + 1,
                     chunk_len.cast("int")))
    return ch.select(
        "doc_id", "chunk_idx", "start_tok",
        chunk_len.alias("chunk_tokens"),
        F.md5(chunk_text.cast("binary")).alias("chunk_md5"),
    )


def bpe_merge_pairs(spark: SparkSession, sf_dir: str,
                    top_n: int = 50) -> DataFrame:
    """Merge-candidate counting — the inner loop of BPE vocabulary
    induction: count every adjacent token pair across the corpus and
    rank the merge candidates. (Real BPE then merges the top pair and
    recounts; one round is the representative distributed shape —
    iterate by re-running on the merged stream.)

    explode adjacent pairs -> hash agg with map-side combine (shuffle
    is pair-vocabulary-sized, not corpus-sized) -> TakeOrderedAndProject
    top-N with deterministic pair tie-break.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))
    return (
        docs.select(F.explode(adjacent_pairs_col(toks)).alias("p"))
        .select(F.concat_ws(" ", "p.tok_a", "p.tok_b").alias("pair"))
        .filter(F.col("pair").contains(" "))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(top_n)
    )


QUERIES["term_frequencies"] = term_frequencies
QUERIES["tfidf_top_terms"] = tfidf_top_terms
QUERIES["doc_chunk"] = doc_chunk
QUERIES["bpe_merge_pairs"] = bpe_merge_pairs

ORACLE_SQL["doc_chunk"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, toks, len(toks) AS n,
               unnest(range(0, CAST(floor((len(toks) - 1)
                   / {CHUNK_STRIDE}.0) AS BIGINT) + 1)) AS chunk_idx
        FROM t
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(least({CHUNK_CTX}, n - chunk_idx * {CHUNK_STRIDE}) AS BIGINT)
               AS chunk_tokens,
           md5(array_to_string(list_slice(
               toks, chunk_idx * {CHUNK_STRIDE} + 1,
               chunk_idx * {CHUNK_STRIDE}
                   + least({CHUNK_CTX}, n - chunk_idx * {CHUNK_STRIDE})), ' '))
               AS chunk_md5
    FROM c
"""

ORACLE_SQL["bpe_merge_pairs"] = """
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), p AS (
        SELECT unnest(list_transform(
                   range(1, greatest(len(toks) - 1, 0) + 1),
                   i -> toks[i] || ' ' || toks[i + 1])) AS pair
        FROM t
    )
    SELECT pair, count(*) AS n_occurrences
    FROM p
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair ASC
    LIMIT 50
"""
ORACLE_SQL["tfidf_top_terms"] = """
    WITH terms AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS term_count
        FROM terms WHERE token != ''
        GROUP BY 1, 2
    ), df AS (
        SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
        FROM tf GROUP BY 1
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.token, tf.term_count, df.doc_freq,
               floor(tf.term_count * ln(n.n_docs * 1.0 / df.doc_freq)
                     * 10000) / 10000 AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, term_count, doc_freq,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token ASC) AS INT)
               AS rank,
           tfidf
    FROM scored
    QUALIFY rank <= 5
"""
ORACLE_SQL["term_frequencies"] = """
    SELECT t AS token, count(*) AS n_occurrences
    FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents
    )
    WHERE t != ''
    GROUP BY 1
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 100
"""


#: Vocabulary size for dictionary-encoding tokenization.
VOCAB_N = 100


def tokenize_ids(spark: SparkSession, sf_dir: str,
                 vocab_n: int = VOCAB_N) -> DataFrame:
    """Dictionary-encoding tokenization: map every token to its rank
    in the corpus top-N vocabulary (1-based by count desc, token asc;
    out-of-vocabulary -> 0) — the distributed shape of applying a
    fixed tokenizer vocabulary to a corpus.

    The vocab is |N| rows — broadcast as a map literal via a join-free
    path would need a UDF; instead the token stream equi-joins the
    broadcast vocab (left join, OOV null -> 0) and reassembles each
    document IN ORDER (posexplode position carries the original slot).
    Emits per doc: token count, OOV count, and an md5 of the
    comma-joined id sequence so the oracle verifies the exact encoded
    stream, not just counts.

    Scale: explode -> broadcast-hash-join -> (doc_id) hash agg with
    map-side combine; the only shuffle is corpus-linear on doc_id.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))
    vocab = (
        docs.select(F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_n)
        .select("token",
                F.row_number().over(
                    Window.orderBy(F.desc("n"), F.asc("token"))).alias("id"))
    )
    stream = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "token"))
    encoded = (
        stream.join(F.broadcast(vocab), "token", "left")
        .select("doc_id", "pos",
                F.coalesce("id", F.lit(0)).alias("id"))
    )
    return (
        encoded.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("id") == 0).cast("long")).alias("n_oov"),
            F.md5(F.concat_ws(",", F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda s: s["id"].cast("string"))).cast("binary"))
            .alias("ids_md5"),
        )
    )


QUERIES["tokenize_ids"] = tokenize_ids

ORACLE_SQL["tokenize_ids"] = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token,
               generate_subscripts(
                   string_split_regex(lower(trim(text)), '\\s+'), 1) AS pos
        FROM documents
    ), vocab AS (
        SELECT token,
               row_number() OVER (ORDER BY count(*) DESC, token ASC) AS id
        FROM toks WHERE token != ''
        GROUP BY token
        ORDER BY count(*) DESC, token ASC
        LIMIT {VOCAB_N}
    ), enc AS (
        SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
        FROM toks t LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
    FROM enc
    GROUP BY doc_id
"""


def doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per document: the mean log
    probability of its tokens under the corpus unigram distribution
    (the cheap end of perplexity-based quality filtering — docs far
    below the corpus mean are gibberish or boilerplate candidates).

    Shape: one token-count aggregate (vocabulary-sized, map-side
    combined), joined back onto the token stream by token (hash join;
    at 100 TB the unigram table is still tiny relative to the corpus
    and typically broadcast), then a per-doc mean. Bit-stability:
    each token's ln() is floored to an int64 of 1e-7 units BEFORE the
    per-doc sum, so the aggregate is an integer sum — exact and
    partial-merge-order-independent, like the repo's other
    hash-stable aggregates — instead of a float fold whose 4dp floor
    could flip at a boundary under a different partitioning. ln()
    itself agrees across engines to the ulp, and floor (unlike
    round) has no tie-break to diverge on.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    terms = (docs.select("doc_id",
                         F.explode(tokens_col(F.col("text"))).alias("token"))
             .filter(F.col("token") != ""))
    counts = terms.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("__total"))
    scored = (
        terms.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id",
                F.floor(F.log(F.col("c") / F.col("__total")) * 1e7)
                .cast("long").alias("lp7"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.floor(F.sum("lp7") / 1e7 / F.count(F.lit(1)) * 10000)
             / 10000).alias("mean_logprob"),
        )
    )


QUERIES["doc_logprob"] = doc_logprob

ORACLE_SQL["doc_logprob"] = """
    WITH terms AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents
    ), t AS (
        SELECT doc_id, token FROM terms WHERE token != ''
    ), counts AS (
        SELECT token, count(*) AS c FROM t GROUP BY token
    ), total AS (
        SELECT sum(c) AS tot FROM counts
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           floor(sum(CAST(floor(ln(c * 1.0 / tot) * 1e7) AS BIGINT))
                 / 1e7 / count(*) * 10000) / 10000
               AS mean_logprob
    FROM t JOIN counts USING (token) CROSS JOIN total
    GROUP BY doc_id
"""


PMI_MIN_COUNT = 10
PMI_TOP_N = 100


def bigram_pmi(spark: SparkSession, sf_dir: str,
               min_count: int = PMI_MIN_COUNT,
               top_n: int = PMI_TOP_N) -> DataFrame:
    """Collocation mining: the top-N adjacent token pairs by PMI
    lift — how much more often the pair co-occurs than its unigram
    frequencies predict. The statistical upgrade of bpe_merge_pairs
    (raw counts rank stopword pairs; lift ranks collocations).

    The hashed score is the RAW lift ratio, not ln(lift): every
    input is an exact integer count, so the ratio is a fixed chain
    of IEEE mul/div (bit-identical in any engine), while ln() is
    libm-dependent in its last ulp — a hash hazard the repo's
    float-determinism rule (see doc_logprob) forbids. Same fixed
    association order on both sides, floored at 4dp.

    Plan: explode pairs -> hash agg with map-side combine (shuffle is
    pair-vocab-sized), two token-keyed joins against the unigram
    vocabulary (shuffle joins — at 100 TB the vocabulary outgrows a
    broadcast), one-row totals broadcast. min_count prunes the long
    tail BEFORE the joins, so the joined set is the frequent-pair
    vocabulary only. Top-N plans as TakeOrderedAndProject.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))
    pairs = (
        docs.select(F.explode(adjacent_pairs_col(toks)).alias("p"))
        .select("p.tok_a", "p.tok_b")
        .filter((F.col("tok_a") != "") & (F.col("tok_b") != ""))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    totals = uni.agg(
        F.sum("n_tok").cast("double").alias("n_unigrams"))
    pair_total = pairs.agg(
        F.sum("n_pair").cast("double").alias("n_bigrams"))
    # lift = (c_ab/N_b) / ((c_a/N_u) * (c_b/N_u)), associated left
    # to right identically in the oracle SQL.
    lift = (F.col("n_pair").cast("double") * F.col("n_unigrams")
            / F.col("n_bigrams") * F.col("n_unigrams")
            / F.col("n_a") / F.col("n_b"))
    return (
        pairs
        .join(uni.select(F.col("tok").alias("tok_a"),
                         F.col("n_tok").alias("n_a")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"),
                         F.col("n_tok").alias("n_b")), "tok_b")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(pair_total))
        .select("tok_a", "tok_b", "n_pair",
                (F.floor(lift * 10000) / 10000).alias("pmi_lift"))
        .orderBy(F.desc("pmi_lift"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(top_n)
    )


QUERIES["bigram_pmi"] = bigram_pmi

ORACLE_SQL["bigram_pmi"] = f"""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), pr AS (
        SELECT t.toks[i] AS tok_a, t.toks[i + 1] AS tok_b
        FROM t, LATERAL (SELECT unnest(range(1, len(t.toks))) AS i)
    ), pairs AS (
        SELECT tok_a, tok_b, count(*) AS n_pair
        FROM pr
        WHERE tok_a <> '' AND tok_b <> ''
        GROUP BY 1, 2
        HAVING count(*) >= {PMI_MIN_COUNT}
    ), uni AS (
        SELECT tok, count(*) AS n_tok
        FROM (SELECT unnest(toks) AS tok FROM t)
        WHERE tok <> ''
        GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n_tok) AS DOUBLE) AS n_unigrams FROM uni
    ), ptot AS (
        SELECT CAST(sum(n_pair) AS DOUBLE) AS n_bigrams FROM pairs
    )
    SELECT p.tok_a, p.tok_b, p.n_pair,
           floor(CAST(p.n_pair AS DOUBLE) * n_unigrams / n_bigrams
                 * n_unigrams / a.n_tok / b.n_tok * 10000) / 10000
               AS pmi_lift
    FROM pairs p
    JOIN uni a ON p.tok_a = a.tok
    JOIN uni b ON p.tok_b = b.tok
    CROSS JOIN tot CROSS JOIN ptot
    ORDER BY pmi_lift DESC, tok_a ASC, tok_b ASC
    LIMIT {PMI_TOP_N}
"""


def token_char_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) Pearson correlation between a document's
    whitespace token count and its character count — the corpus-stats
    sanity scan that catches tokenizer drift or a source whose
    length distribution went weird.

    Determinism by construction: both variables are INTEGERS, so the
    five sufficient statistics (n, Sx, Sy, Sxy, Sxx, Syy) are exact
    integer sums in any aggregation order; the closed-form
    correlation is then a fixed chain of IEEE ops on identical
    inputs in both engines (same reason the catalog's built-in
    corr() is NOT used: engines disagree on the streaming/Welford
    fold). One hash aggregate with map-side partials, floored 4dp.
    """
    docs = read_table(spark, sf_dir, "documents")
    x = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    y = F.length("text")
    stats = (
        docs.select("source", "lang",
                    x.cast("long").alias("x"), y.cast("long").alias("y"))
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("x").alias("sx"), F.sum("y").alias("sy"),
             F.sum(F.col("x") * F.col("y")).alias("sxy"),
             F.sum(F.col("x") * F.col("x")).alias("sxx"),
             F.sum(F.col("y") * F.col("y")).alias("syy"))
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = F.sqrt((F.col("n") * F.col("sxx")
                  - F.col("sx") * F.col("sx")).cast("double")) \
        * F.sqrt((F.col("n") * F.col("syy")
                  - F.col("sy") * F.col("sy")).cast("double"))
    corr = F.when(den == 0, F.lit(0.0)).otherwise(num / den)
    return stats.select(
        "source", "lang", "n",
        (F.floor(corr * 10000) / 10000).alias("token_char_corr"))


QUERIES["token_char_correlation"] = token_char_correlation

ORACLE_SQL["token_char_correlation"] = """
    WITH s AS (
        SELECT source, lang,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS BIGINT) AS x,
               CAST(length(text) AS BIGINT) AS y
        FROM documents
    ), agg AS (
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM s GROUP BY 1, 2
    )
    SELECT source, lang, n,
           floor(CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                           * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) = 0
                      THEN 0.0
                      ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 END * 10000) / 10000 AS token_char_corr
    FROM agg
"""


def bigram_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model score per document: the mean log of
    P(w_i | w_{i-1}) under the corpus bigram MLE — the next step up
    from doc_logprob's unigram model for perplexity-style quality
    filtering (a doc of real phrases scores near the corpus mean;
    shuffled-token gibberish falls off a cliff even when its unigram
    score looks normal). Docs with fewer than two tokens have no
    bigrams and are excluded, like the n-gram dedup family.

    Conditional probability uses the CONTEXT count (bigrams starting
    with w_{i-1}), not the unigram count, so each row's probability
    is a proper distribution over successors.

    Bit-stability: same integer-sum contract as doc_logprob — each
    bigram's ln() is floored to int64 1e-7 units BEFORE the per-doc
    sum, so partial-aggregation merge order can never move the
    hashed 4dp mean.

    Plan: one pair explode -> two hash aggregates (bigram vocab,
    context vocab, both map-side combined) -> two token-keyed shuffle
    joins back onto the pair stream (at 100 TB the bigram vocabulary
    outgrows a broadcast) -> per-doc integer-sum aggregate.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))
    doc_pairs = (
        docs.select("doc_id", F.explode(adjacent_pairs_col(toks)).alias("p"))
        .select("doc_id", "p.tok_a", "p.tok_b")
        .filter((F.col("tok_a") != "") & (F.col("tok_b") != ""))
    )
    bigrams = doc_pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).alias("c_ab"))
    contexts = bigrams.groupBy("tok_a").agg(
        F.sum("c_ab").alias("c_a"))
    # Fold the context join into the VOCABULARY-sized bigram table
    # first, so the corpus-sized pair stream is joined exactly once —
    # at test scale AQE broadcasts either way, but at 100 TB this
    # halves the stream-sized shuffle joins from two to one.
    bigram_lp = (
        bigrams.join(contexts, "tok_a")
        .select("tok_a", "tok_b",
                F.floor(F.log(F.col("c_ab") / F.col("c_a")) * 1e7)
                .cast("long").alias("lp7"))
    )
    scored = doc_pairs.join(bigram_lp, ["tok_a", "tok_b"]) \
        .select("doc_id", "lp7")
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             (F.floor(F.sum("lp7") / 1e7 / F.count(F.lit(1)) * 10000)
              / 10000).alias("mean_logprob"))
    )


QUERIES["bigram_doc_logprob"] = bigram_doc_logprob

ORACLE_SQL["bigram_doc_logprob"] = """
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), pr AS (
        SELECT doc_id, t.toks[i] AS tok_a, t.toks[i + 1] AS tok_b
        FROM t, LATERAL (SELECT unnest(range(1, len(t.toks))) AS i)
        WHERE t.toks[i] <> '' AND t.toks[i + 1] <> ''
    ), bigrams AS (
        SELECT tok_a, tok_b, count(*) AS c_ab FROM pr GROUP BY 1, 2
    ), contexts AS (
        SELECT tok_a, sum(c_ab) AS c_a FROM bigrams GROUP BY 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(sum(CAST(floor(ln(c_ab * 1.0 / c_a) * 1e7) AS BIGINT))
                 / 1e7 / count(*) * 10000) / 10000 AS mean_logprob
    FROM pr JOIN bigrams USING (tok_a, tok_b)
    JOIN contexts USING (tok_a)
    GROUP BY doc_id
"""


def ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity report per source: type-token ratio (distinct
    tokens / total tokens) and hapax share (tokens seen exactly once)
    — the corpus-stats screen that flags template-generated or
    looping sources (low TTR) and OCR-noise sources (high hapax
    share) before they hit training.

    All inputs to the two ratios are exact integers, so the floored
    4dp values are deterministic in any aggregation order. Plan: one
    explode -> (source, token) hash agg (map-side combine collapses
    each partition to its per-source vocabulary) -> per-source
    re-aggregate, |sources| groups. At 100 TB, swap the exact
    distinct for approx_count_distinct and keep hapax from a
    count-min sketch — the exact form is the oracle-checkable tier.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    per_tok = (
        docs.select("source", F.explode(tokens_col(F.col("text")))
                    .alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_tok.groupBy("source")
        .agg(F.sum("c").alias("n_tokens"),
             F.count(F.lit(1)).alias("n_types"),
             F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
             .alias("n_hapax"))
        .select(
            "source", "n_tokens", "n_types", "n_hapax",
            (F.floor(F.col("n_types") / F.col("n_tokens") * 10000)
             / 10000).alias("ttr"),
            (F.floor(F.col("n_hapax") / F.col("n_types") * 10000)
             / 10000).alias("hapax_share"))
    )


QUERIES["ttr_by_source"] = ttr_by_source

ORACLE_SQL["ttr_by_source"] = """
    WITH per_tok AS (
        SELECT source, token, count(*) AS c FROM (
            SELECT source,
                   unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS token
            FROM documents
        ) WHERE token <> ''
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           floor(count(*) * 1.0 / sum(c) * 10000) / 10000 AS ttr,
           floor(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 10000) / 10000 AS hapax_share
    FROM per_tok GROUP BY 1
"""

VOCAB_OVERLAP_MIN_JACCARD = 0.0


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard: for every pair of sources,
    |shared distinct tokens| / |union| — the redundancy screen a
    curation team runs to find mirror/scraper sources before mixing
    weights are chosen (two sources with near-1 vocabulary Jaccard
    are usually the same crawl twice).

    Plan: distinct (source, token) pairs once, then a token-keyed
    self-join counts intersections — candidates meet ONLY on shared
    tokens (never an all-pairs source product), and the fan-out per
    token is bounded by |sources| ( <= C(|sources|,2) pairs per
    token). Per-source vocabulary sizes broadcast back onto the
    |sources|^2-bounded pair table. Integer counts -> floored 4dp
    ratio, deterministic in any fold order.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select("source", F.explode(tokens_col(F.col("text")))
                    .alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vocab"))
    a = vocab.select(F.col("source").alias("source_a"), "token")
    b = vocab.select(F.col("source").alias("source_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sz_a = F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                    F.col("n_vocab").alias("vocab_a")))
    sz_b = F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                    F.col("n_vocab").alias("vocab_b")))
    union = F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")
    return (
        inter.join(sz_a, "source_a").join(sz_b, "source_b")
        .select("source_a", "source_b", "n_shared",
                "vocab_a", "vocab_b",
                (F.floor(F.col("n_shared") / union * 10000) / 10000)
                .alias("jaccard"))
    )


QUERIES["source_vocab_overlap"] = source_vocab_overlap

ORACLE_SQL["source_vocab_overlap"] = """
    WITH vocab AS (
        SELECT DISTINCT source, token FROM (
            SELECT source,
                   unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS token
            FROM documents
        ) WHERE token <> ''
    ), sizes AS (
        SELECT source, count(*) AS n_vocab FROM vocab GROUP BY 1
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM vocab a JOIN vocab b ON a.token = b.token
        WHERE a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           sa.n_vocab AS vocab_a, sb.n_vocab AS vocab_b,
           floor(n_shared * 1.0
                 / (sa.n_vocab + sb.n_vocab - n_shared) * 10000)
               / 10000 AS jaccard
    FROM inter
    JOIN sizes sa ON source_a = sa.source
    JOIN sizes sb ON source_b = sb.source
"""


# Gopher-style per-document quality rules (Rae et al. 2021-inspired
# thresholds, tuned to the synthetic corpus so both outcomes occur).
GOPHER_MIN_WORDS = 25
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_STOPWORD_FRAC = 0.01
GOPHER_MAX_NUMERIC_FRAC = 0.2
_GOPHER_STOPWORDS = LANG_MARKERS["en"]
#: Threshold grid for quality_filter_sweep, in exact 4dp milli-units
#: (0.05, 0.15, ..., 0.95): integer comparisons against the floored
#: 4dp score — no float threshold ever compares.
QUALITY_SWEEP_THRESHOLDS_M4 = tuple(range(500, 10000, 1000))


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality screen: per document, the
    individual boolean rules (word-count bounds, mean-word-length
    bounds, minimum stopword fraction, maximum numeric-token
    fraction) plus the overall pass — the transparent filter tier a
    curation pipeline runs BEFORE any model-based scoring, and the
    per-rule breakdown is what lets you audit WHY a slice of the
    corpus was dropped.

    All ratios derive from exact integer counts (floored 4dp), so
    flags can't flip under re-partitioning; thresholds are strict
    inequalities against the floored values in both engines. One
    narrow projection — no shuffle at all until a downstream
    aggregate.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(tokens_col(F.col("text")), lambda t: t != "")
    n = F.size(toks)
    # Cheap string ops instead of per-token lambdas where possible:
    # total token length is the text minus its whitespace (one
    # regexp_replace over the string, not a per-token fold), and
    # "numeric token" is translate()-based (no per-token regex —
    # measured ~2.5x on this query at sf0.1).
    total_len = F.length(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                          r"\s+", ""))
    n_stop = F.size(F.filter(
        toks, lambda t: t.isin(*_GOPHER_STOPWORDS)))
    n_num = F.size(F.filter(
        toks, lambda t: F.length(F.translate(t, "0123456789", "")) == 0))
    mean_len = F.floor(total_len / n * 10000) / 10000
    stop_frac = F.floor(n_stop / n * 10000) / 10000
    num_frac = F.floor(n_num / n * 10000) / 10000
    flags = docs.select(
        "doc_id", n.alias("n_words"), mean_len.alias("mean_word_len"),
        stop_frac.alias("stopword_frac"), num_frac.alias("numeric_frac"))
    wc_ok = (F.col("n_words") >= GOPHER_MIN_WORDS) \
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
    len_ok = (F.col("mean_word_len") >= GOPHER_MIN_MEAN_LEN) \
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_LEN)
    stop_ok = F.col("stopword_frac") >= GOPHER_MIN_STOPWORD_FRAC
    num_ok = F.col("numeric_frac") <= GOPHER_MAX_NUMERIC_FRAC
    return flags.select(
        "doc_id", "n_words", "mean_word_len", "stopword_frac",
        "numeric_frac",
        wc_ok.alias("word_count_ok"), len_ok.alias("mean_len_ok"),
        stop_ok.alias("stopword_ok"), num_ok.alias("numeric_ok"),
        (wc_ok & len_ok & stop_ok & num_ok).alias("gopher_pass"))


QUERIES["gopher_quality_flags"] = gopher_quality_flags

ORACLE_SQL["gopher_quality_flags"] = f"""
    WITH t AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ), m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               floor(length(regexp_replace(lower(trim(text)),
                                           '\\s+', '', 'g'))
                     * 1.0 / len(toks) * 10000) / 10000
                   AS mean_word_len,
               floor(len(list_filter(toks, x -> x IN
                         {tuple(_GOPHER_STOPWORDS)!r}))
                     * 1.0 / len(toks) * 10000) / 10000
                   AS stopword_frac,
               floor(len(list_filter(toks,
                         x -> length(translate(x, '0123456789', '')) = 0))
                     * 1.0 / len(toks) * 10000) / 10000
                   AS numeric_frac
        FROM t
    )
    SELECT doc_id,
           CAST(n_words AS INTEGER) AS n_words,
           mean_word_len, stopword_frac, numeric_frac,
           n_words >= {GOPHER_MIN_WORDS}
               AND n_words <= {GOPHER_MAX_WORDS} AS word_count_ok,
           mean_word_len >= {GOPHER_MIN_MEAN_LEN}
               AND mean_word_len <= {GOPHER_MAX_MEAN_LEN} AS mean_len_ok,
           stopword_frac >= {GOPHER_MIN_STOPWORD_FRAC} AS stopword_ok,
           numeric_frac <= {GOPHER_MAX_NUMERIC_FRAC} AS numeric_ok,
           (n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}
            AND mean_word_len >= {GOPHER_MIN_MEAN_LEN}
            AND mean_word_len <= {GOPHER_MAX_MEAN_LEN}
            AND stopword_frac >= {GOPHER_MIN_STOPWORD_FRAC}
            AND numeric_frac <= {GOPHER_MAX_NUMERIC_FRAC})
               AS gopher_pass
    FROM m
"""

ORACLE_SQL["quality_filter_sweep"] = f"""
    WITH raw AS (
        SELECT doc_id, text,
               string_split_regex(lower(trim(text)), '\\s+') AS toks_q,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x != '') AS toks_g
        FROM documents
    ), per_doc AS (
        SELECT
            CAST(floor(least(1.0, len(toks_q) / 50.0)
                       * (1 - len(list_filter(toks_q,
                                  x -> x IN {_STOPWORDS_SQL}))
                             * 1.0 / len(toks_q)) * 10000) AS BIGINT)
                AS score_m4,
            (len(toks_g) >= {GOPHER_MIN_WORDS}
             AND len(toks_g) <= {GOPHER_MAX_WORDS}
             AND floor(length(regexp_replace(lower(trim(text)),
                                             '\\s+', '', 'g'))
                       * 1.0 / len(toks_g) * 10000) / 10000
                 >= {GOPHER_MIN_MEAN_LEN}
             AND floor(length(regexp_replace(lower(trim(text)),
                                             '\\s+', '', 'g'))
                       * 1.0 / len(toks_g) * 10000) / 10000
                 <= {GOPHER_MAX_MEAN_LEN}
             AND floor(len(list_filter(toks_g, x -> x IN
                           {tuple(_GOPHER_STOPWORDS)!r}))
                       * 1.0 / len(toks_g) * 10000) / 10000
                 >= {GOPHER_MIN_STOPWORD_FRAC}
             AND floor(len(list_filter(toks_g,
                           x -> length(translate(x, '0123456789', ''))
                                = 0))
                       * 1.0 / len(toks_g) * 10000) / 10000
                 <= {GOPHER_MAX_NUMERIC_FRAC}) AS is_pass
        FROM raw
    ), spine AS (
        SELECT score_m4, is_pass, CAST(count(*) AS BIGINT) AS n
        FROM per_doc GROUP BY 1, 2
    ), grid AS (
        SELECT unnest({list(QUALITY_SWEEP_THRESHOLDS_M4)!r})
            AS threshold_m4
    ), cells AS (
        SELECT CAST(threshold_m4 AS BIGINT) AS threshold_m4,
               CAST(sum(CASE WHEN score_m4 >= threshold_m4 AND is_pass
                        THEN n ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN score_m4 >= threshold_m4
                             AND NOT is_pass
                        THEN n ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN score_m4 < threshold_m4 AND is_pass
                        THEN n ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN score_m4 < threshold_m4
                             AND NOT is_pass
                        THEN n ELSE 0 END) AS BIGINT) AS tn
        FROM spine CROSS JOIN grid
        GROUP BY 1
    )
    SELECT threshold_m4, tp, fp, fn, tn,
           tp * 1000000 // nullif(tp + fp, 0) AS precision_micro,
           tp * 1000000 // nullif(tp + fn, 0) AS recall_micro,
           2 * tp * 1000000 // nullif(2 * tp + fp + fn, 0) AS f1_micro
    FROM cells
    ORDER BY threshold_m4
"""


def quality_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for the corpus quality filter: treating
    the Gopher rule screen (gopher_quality_flags) as the pseudo-label
    and doc_stats' heuristic quality score as the classifier, report
    the confusion counts and precision/recall/F1 at each score
    threshold — the table a curation pipeline reads to CHOOSE the
    cutoff (keep-rate vs agreement trade-off) before committing a
    multi-TB filter pass. The same harness re-runs unchanged when a
    model-based scorer replaces the heuristic.

    Determinism: the score enters as its exact floored 4dp integer
    (score_m4) and thresholds are integer milli-units, so membership
    is pure integer comparison; precision/recall/F1 are integer
    micro-ratios via BIGINT div (F1 from the direct integer identity
    2*tp / (2*tp + fp + fn) — no float P/R intermediates).

    Shape: ONE documents scan computes the per-token counts for BOTH
    rules via explode + codegen'd IN-set aggregation (round 10: the
    original five interpreted higher-order filter() counts were the
    dominant linear term at sf1 — the doc_token_profile diagnosis),
    a second map-side-combined aggregate collapses the per-doc rows
    to the <= 10k x 2 (score, label) SPINE, and the 10-threshold
    grid cross-joins the spine — the corpus never replicates per
    threshold (the naive explode-per-threshold form pushes T x
    corpus rows through the shuffle)."""
    docs = read_table(spark, sf_dir, "documents")

    # One explode pass feeds BOTH rules' token counts; the per-doc
    # scalar (whitespace-stripped length) rides as a group key.
    total_len = F.length(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                          r"\s+", ""))
    pre = docs.select(
        "doc_id", total_len.alias("__len"),
        tokens_col(F.col("text")).alias("__toks"))
    t = F.col("__t")
    nonempty = t != ""
    per_doc = (
        pre.select("doc_id", "__len", F.explode_outer("__toks").alias("__t"))
        .groupBy("doc_id", "__len")
        .agg(F.count(F.lit(1)).alias("n_q"),
             F.sum(F.when(t.isin(*STOPWORDS), 1).otherwise(0))
             .alias("stop_q"),
             F.sum(F.when(nonempty, 1).otherwise(0)).alias("n_g"),
             F.sum(F.when(t.isin(*_GOPHER_STOPWORDS), 1).otherwise(0))
             .alias("n_stop_g"),
             F.sum(F.when(
                 nonempty
                 & (F.length(F.translate(t, "0123456789", "")) == 0),
                 1).otherwise(0)).alias("n_num")))

    # doc_stats' quality formula, verbatim, as the exact 4dp integer.
    n_q, stop_q = F.col("n_q"), F.col("stop_q")
    score_m4 = F.floor(
        F.least(F.lit(1.0), n_q / F.lit(50.0))
        * (1 - stop_q / n_q) * 10000).cast("long")

    # gopher_quality_flags' pass rule, verbatim.
    n_g = F.col("n_g")
    mean_len = F.floor(F.col("__len") / n_g * 10000) / 10000
    stop_frac = F.floor(F.col("n_stop_g") / n_g * 10000) / 10000
    num_frac = F.floor(F.col("n_num") / n_g * 10000) / 10000
    gopher_pass = (
        (n_g >= GOPHER_MIN_WORDS) & (n_g <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_LEN)
        & (stop_frac >= GOPHER_MIN_STOPWORD_FRAC)
        & (num_frac <= GOPHER_MAX_NUMERIC_FRAC))

    spine = (per_doc.select(score_m4.alias("score_m4"),
                            gopher_pass.alias("is_pass"))
             .groupBy("score_m4", "is_pass")
             .agg(F.count(F.lit(1)).alias("n")))
    grid = (spark.range(1)
            .select(F.explode(F.array(
                *[F.lit(t) for t in QUALITY_SWEEP_THRESHOLDS_M4]))
                .alias("__t"))
            .select(F.col("__t").cast("long").alias("threshold_m4")))
    kept = F.col("score_m4") >= F.col("threshold_m4")
    cell = lambda cond: F.sum(F.when(cond, F.col("n"))  # noqa: E731
                              .otherwise(F.lit(0))).cast("long")
    out = (spine.crossJoin(F.broadcast(grid))
           .groupBy("threshold_m4")
           .agg(cell(kept & F.col("is_pass")).alias("tp"),
                cell(kept & ~F.col("is_pass")).alias("fp"),
                cell(~kept & F.col("is_pass")).alias("fn"),
                cell(~kept & ~F.col("is_pass")).alias("tn")))
    return (out.select(
        "threshold_m4", "tp", "fp", "fn", "tn",
        F.expr("tp * 1000000 div nullif(tp + fp, 0)")
        .alias("precision_micro"),
        F.expr("tp * 1000000 div nullif(tp + fn, 0)")
        .alias("recall_micro"),
        F.expr("2 * tp * 1000000 div nullif(2 * tp + fp + fn, 0)")
        .alias("f1_micro"))
        .orderBy("threshold_m4"))


QUERIES["quality_filter_sweep"] = quality_filter_sweep


COMPRESSION_LEVEL = 6


def compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: deflate each document and
    report compressed/raw byte ratio — the cheap structure detector
    corpus filters use alongside repetition profiles (boilerplate
    and looped templates compress far below natural text; random
    noise barely compresses at all). Ratio floored 4dp.

    Arrow-batched pandas_udf over stdlib zlib at a FIXED level —
    per-row CPU, zero shuffle, embarrassingly parallel at any scale.
    Rows-only in the gate (DuckDB has no deflate); the pytest pins
    the ordering the signal exists for: looped text < natural-ish
    text < incompressible noise.
    """
    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))

    @F.pandas_udf("long")
    def compressed_len(texts):
        import zlib

        import pandas as pd
        # None-safe: a null-text doc yields null bytes/ratio (raw_len
        # is already null there), not an AttributeError mid-batch
        return pd.Series([
            None if t is None else
            len(zlib.compress(t.encode("utf-8"), COMPRESSION_LEVEL))
            for t in texts], dtype="Int64")

    raw_len = F.length(F.col("text").cast("binary")).cast("long")
    return (
        docs.select("doc_id", raw_len.alias("n_bytes"),
                    compressed_len(F.col("text")).alias("deflate_bytes"))
        .select("doc_id", "n_bytes", "deflate_bytes",
                (F.floor(F.col("deflate_bytes") / F.col("n_bytes")
                         * 10000) / 10000).alias("compression_ratio"))
    )


QUERIES["compression_quality"] = compression_quality  # rows-only (zlib)


#: BM25 ranking constants (Robertson k1/b defaults) and the fixed
#: demo query. k1+1 and 1-b are written as literals so Spark and
#: DuckDB parse the identical double constants.
BM25_QUERY_TERMS = ("join", "hash", "stream")
BM25_TOP_K = 15


def bm25_doc_ranking(spark: SparkSession, sf_dir: str,
                     k: int = BM25_TOP_K) -> DataFrame:
    """Top-k documents by BM25 relevance to a fixed term query —
    the search-ranking primitive over the corpus (tf-idf's
    production successor; tfidf_top_terms is the per-doc variant).

    Determinism contract: dl, tf, df, N, total_dl are all exact
    integers; the per-(doc,term) score runs through ONE pinned IEEE
    chain — idf = ln(1 + (N - df + 0.5)/(df + 0.5)), norm =
    tf*2.2 / (tf + 1.2*(0.25 + 0.75*((dl*N)/total_dl))) — and is
    FLOOR-quantized to micro-units (1e6) per term BEFORE the
    per-doc sum, so the cross-term fold is over int64s and the
    output column (score_micro BIGINT) hash-compares exactly. Only
    ln() itself carries a last-ulp cross-engine risk, the same
    accepted bound as tfidf_top_terms.

    Shape: tokenize -> explode -> filter to the |Q| query terms
    (pushed below the (doc,term) agg, so shuffle volume is
    matching-term occurrences only) -> tf hash agg -> df as a
    per-token window over the same tf stream -> broadcast the
    one-row corpus stats -> per-doc integer sum -> top-k as
    TakeOrderedAndProject. No all-pairs stage at any scale."""
    from pyspark.sql import Window

    from simpleetlpipeline_spark.io import fan_out

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = F.filter(tokens_col(F.col("text")), lambda x: x != "")
    base = docs.select("doc_id", F.size(toks).cast("long").alias("dl"),
                       toks.alias("tokens"))
    corpus = base.agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("dl").alias("total_dl"))
    tf = (
        base.select("doc_id", "dl",
                    F.explode("tokens").alias("token"))
        .filter(F.col("token").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_w = Window.partitionBy("token")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(df_w))
        .crossJoin(F.broadcast(corpus))
    )
    n_d = F.col("n_docs").cast("double")
    df_d = F.col("df").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    total_d = F.col("total_dl").cast("double")
    idf = F.log(F.lit(1.0) + (n_d - df_d + 0.5) / (df_d + 0.5))
    norm = (tf_d * 2.2
            / (tf_d + 1.2 * (0.25 + 0.75 * ((dl_d * n_d) / total_d))))
    per_term = scored.select(
        "doc_id",
        F.floor(idf * norm * 1e6).cast("long").alias("term_micro"))
    return (
        per_term.groupBy("doc_id")
        .agg(F.sum("term_micro").cast("bigint").alias("score_micro"),
             F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"))
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(k)
    )


QUERIES["bm25_doc_ranking"] = bm25_doc_ranking

#: The BM25 per-doc scoring CTE chain, shared verbatim between the
#: bm25_doc_ranking oracle and the hybrid_rrf_search oracle
#: (functions/similarity.py) — one definition so the lexical leg of
#: the fusion can never drift from the standalone ranking.
BM25_SCORED_CTES = """
    base AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(trim(text)),
                                                  '\\s+'),
                               x -> x != '')) AS dl,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x != '') AS tokens
        FROM documents
    ), corpus AS (
        SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM base
    ), tf AS (
        SELECT doc_id, dl, t AS token, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(tokens) AS t FROM base)
        WHERE t IN ('join', 'hash', 'stream')
        GROUP BY 1, 2, 3
    ), bm25_scored AS (
        SELECT doc_id,
               CAST(floor(
                   ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
                             + 0.5)
                            / (CAST(df AS DOUBLE) + 0.5))
                   * (CAST(tf AS DOUBLE) * 2.2
                      / (CAST(tf AS DOUBLE)
                         + 1.2 * (0.25 + 0.75
                                  * ((CAST(dl AS DOUBLE)
                                      * CAST(n_docs AS DOUBLE))
                                     / CAST(total_dl AS DOUBLE)))))
                   * 1e6) AS BIGINT) AS term_micro
        FROM (SELECT doc_id, dl, token, tf,
                     count(*) OVER (PARTITION BY token) AS df
              FROM tf), corpus
    ), bm25_docs AS (
        SELECT doc_id, CAST(sum(term_micro) AS BIGINT) AS score_micro,
               CAST(count(*) AS BIGINT) AS n_terms_matched
        FROM bm25_scored GROUP BY 1
    )
"""

ORACLE_SQL["bm25_doc_ranking"] = f"""
    WITH {BM25_SCORED_CTES}
    SELECT doc_id, score_micro, n_terms_matched
    FROM bm25_docs
    ORDER BY score_micro DESC, doc_id ASC LIMIT {BM25_TOP_K}
"""


#: Multilingual rebalancing temperature (the standard alpha ~ 0.7 /
#: temperature-sampling exponent from multilingual-pretraining
#: practice): alpha < 1 upsamples low-resource languages.
SAMPLING_ALPHA = 0.7


def language_sampling_weights(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling weights: w_l
    proportional to (tokens_l / total)^alpha, normalized — the
    standard recipe for rebalancing a multilingual pretraining mix
    so low-resource languages aren't drowned out. effective_epochs
    (weight * total / tokens_l) says how many passes over each
    language the rebalanced mix implies.

    Determinism: per-language BPE token counts are exact integers;
    pow(p, alpha) runs once per LANGUAGE (a handful of rows) and is
    floor-quantized to nano-units; the normalization divides by the
    exact int64 sum of the quantized weights, so the weights column
    is a ratio of integers (one double division, floored 6dp) and
    cross-engine pow() ulp noise cannot move the normalization base.

    Shape: one map-side-combined per-language token agg over the
    scan; everything after is |languages|-sized."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    per_lang = (
        docs.select("lang",
                    F.size(F.regexp_extract_all(
                        F.lower(F.col("text")), F.lit(BPE_TOKEN_RE), 0))
                    .cast("long").alias("n_tok"))
        .groupBy("lang").agg(F.sum("n_tok").alias("tokens"))
    )
    w_all = Window.partitionBy()
    t = per_lang.withColumn("total", F.sum("tokens").over(w_all))
    p = F.col("tokens").cast("double") / F.col("total").cast("double")
    q = t.withColumn(
        "w_nano",
        F.floor(F.pow(p, F.lit(SAMPLING_ALPHA)) * 1e9).cast("long"))
    qq = q.withColumn("w_sum", F.sum("w_nano").over(w_all))
    weight = F.col("w_nano").cast("double") / F.col("w_sum").cast("double")
    return (qq.select(
        "lang",
        F.col("tokens").cast("bigint").alias("tokens"),
        F.col("w_nano").cast("bigint").alias("w_nano"),
        (F.floor(weight * 1e6) / 1e6).alias("weight"),
        (F.floor(weight * F.col("total").cast("double")
                 / F.col("tokens").cast("double") * 1e4) / 1e4)
        .alias("effective_epochs"))
        .orderBy("lang"))


QUERIES["language_sampling_weights"] = language_sampling_weights

ORACLE_SQL["language_sampling_weights"] = f"""
    WITH per_lang AS (
        SELECT lang,
               CAST(sum(len(regexp_extract_all(lower(text),
                                               '{BPE_TOKEN_RE}')))
                    AS BIGINT) AS tokens
        FROM documents GROUP BY 1
    ), t AS (
        SELECT lang, tokens, sum(tokens) OVER () AS total
        FROM per_lang
    ), q AS (
        SELECT *,
               CAST(floor(pow(CAST(tokens AS DOUBLE)
                              / CAST(total AS DOUBLE),
                              {SAMPLING_ALPHA}) * 1e9) AS BIGINT)
                   AS w_nano
        FROM t
    ), qq AS (
        SELECT *, sum(w_nano) OVER () AS w_sum FROM q
    )
    SELECT lang, tokens, w_nano,
           floor(CAST(w_nano AS DOUBLE) / CAST(w_sum AS DOUBLE) * 1e6)
               / 1e6 AS weight,
           floor(CAST(w_nano AS DOUBLE) / CAST(w_sum AS DOUBLE)
                 * CAST(total AS DOUBLE) / CAST(tokens AS DOUBLE)
                 * 1e4) / 1e4 AS effective_epochs
    FROM qq ORDER BY lang
"""


#: Rank depth for the Zipf regression: deep enough to average out
#: head idiosyncrasies, shallow enough that every engine agrees on
#: the rank cutoff (count-desc, token-asc total order is exact).
ZIPF_TOP_N = 1000


def zipf_term_fit(spark: SparkSession, sf_dir: str,
                  top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(count) on
    ln(rank) for the top-N terms — the slope is -alpha, the standard
    sanity statistic for natural-language corpora (alpha ~= 1 for
    clean text; a flat or broken slope flags boilerplate floods or
    deduplication failures upstream of pretraining).

    Determinism (the lp7 contract): ln(rank) and ln(count) quantize
    per SPINE ROW to int64 at 1e-7 before any sum — Spark's Math.log
    and DuckDB's ln may differ in the last ulp, but floor(ln*1e7)
    has agreed everywhere the gate has checked it (doc_logprob
    family). The OLS moments Sxy/Sxx/Syy fold as DECIMAL(38,0)
    (lp7 x lp7 products overflow int64 past ~1e3 terms x 1e12
    counts); slope/intercept/r2 are single double divisions over
    those exact operands, floored at nano/micro.

    Shape: tokenize+explode -> vocab-spine hash agg (map-side
    combined, shuffle is vocab-sized) -> top-N + rank via the
    TWO-PHASE salted_topk (per-salt top-N then a merge over
    <= n_salts*N survivors — never a global window over the raw
    vocabulary, which is 1e8+ terms at corpus scale) -> one-row
    moment aggregate. The oracle keeps the plain SQL window.
    """
    from simpleetlpipeline_spark.io import fan_out
    from simpleetlpipeline_spark.operators.aggregates import salted_topk

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = salted_topk(vocab, [], [F.desc("cnt"), F.asc("token")],
                         top_n).withColumnRenamed("topk_rank", "rank")
    pts = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * 1e7)
        .cast("long").alias("lx"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1e7)
        .cast("long").alias("ly"))
    d38 = "decimal(38,0)"
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx").cast(d38) * F.col("ly").cast(d38)).alias("sxy"),
        F.sum(F.col("lx").cast(d38) * F.col("lx").cast(d38)).alias("sxx"),
        F.sum(F.col("ly").cast(d38) * F.col("ly").cast(d38)).alias("syy"))
    n, sx, sy = (F.col("n_terms").cast(d38), F.col("sx").cast(d38),
                 F.col("sy").cast(d38))
    cov_n = (n * F.col("sxy") - sx * sy).cast("double")
    var_x = (n * F.col("sxx") - sx * sx).cast("double")
    var_y = (n * F.col("syy") - sy * sy).cast("double")
    slope = cov_n / var_x
    intercept = (F.col("sy").cast("double")
                 - slope * F.col("sx").cast("double")) \
        / F.col("n_terms").cast("double")
    r2 = cov_n * cov_n / (var_x * var_y)
    return m.select(
        "n_terms",
        F.floor(slope * 1e9).cast("bigint").alias("slope_nano"),
        F.floor(intercept * 1e2).cast("bigint")
        .alias("intercept_lp7_centi"),
        F.floor(r2 * 1e6).cast("bigint").alias("r2_micro"))


QUERIES["zipf_term_fit"] = zipf_term_fit

ORACLE_SQL["zipf_term_fit"] = f"""
    WITH vocab AS (
        SELECT t AS token, count(*) AS cnt
        FROM (
            SELECT unnest(string_split_regex(lower(trim(text)),
                                             '\\s+')) AS t
            FROM documents
        )
        WHERE t != ''
        GROUP BY 1
    ), ranked AS (
        SELECT cnt, row_number() OVER (
                   ORDER BY cnt DESC, token ASC) AS rank
        FROM vocab
        QUALIFY rank <= {ZIPF_TOP_N}
    ), pts AS (
        SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e7) AS BIGINT)
                   AS lx,
               CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e7) AS BIGINT)
                   AS ly
        FROM ranked
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(lx) AS BIGINT) AS sx,
               CAST(sum(ly) AS BIGINT) AS sy,
               sum(CAST(lx AS DECIMAL(38,0)) * CAST(ly AS DECIMAL(38,0)))
                   AS sxy,
               sum(CAST(lx AS DECIMAL(38,0)) * CAST(lx AS DECIMAL(38,0)))
                   AS sxx,
               sum(CAST(ly AS DECIMAL(38,0)) * CAST(ly AS DECIMAL(38,0)))
                   AS syy
        FROM pts
    )
    SELECT n_terms,
           CAST(floor(
               CAST(CAST(n_terms AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0))
                      * CAST(sy AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(CAST(n_terms AS DECIMAL(38,0)) * sxx
                      - CAST(sx AS DECIMAL(38,0))
                        * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
               * 1e9) AS BIGINT) AS slope_nano,
           CAST(floor(
               (CAST(sy AS DOUBLE)
                - CAST(CAST(n_terms AS DECIMAL(38,0)) * sxy
                       - CAST(sx AS DECIMAL(38,0))
                         * CAST(sy AS DECIMAL(38,0)) AS DOUBLE)
                  / CAST(CAST(n_terms AS DECIMAL(38,0)) * sxx
                         - CAST(sx AS DECIMAL(38,0))
                           * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n_terms AS DOUBLE) * 1e2) AS BIGINT)
               AS intercept_lp7_centi,
           CAST(floor(
               CAST(CAST(n_terms AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0))
                      * CAST(sy AS DECIMAL(38,0)) AS DOUBLE)
               * CAST(CAST(n_terms AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0))
                        * CAST(sy AS DECIMAL(38,0)) AS DOUBLE)
               / (CAST(CAST(n_terms AS DECIMAL(38,0)) * sxx
                       - CAST(sx AS DECIMAL(38,0))
                         * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
                  * CAST(CAST(n_terms AS DECIMAL(38,0)) * syy
                         - CAST(sy AS DECIMAL(38,0))
                           * CAST(sy AS DECIMAL(38,0)) AS DOUBLE))
               * 1e6) AS BIGINT) AS r2_micro
    FROM m
"""


#: Novelty n-gram width (word n-grams, matching the dedup family's
#: shingle width).
NOVELTY_N = 5


def ngram_novelty_score(spark: SparkSession, sf_dir: str,
                        n: int = NOVELTY_N) -> DataFrame:
    """Per-document novelty: the share of a doc's DISTINCT word
    5-grams that appear in no other document — the memorization /
    boilerplate screen (low novelty = the doc is assembled from
    corpus-common phrasing; high = unique content worth keeping).

    Cross-engine contract: grams travel as STRINGS on both sides —
    a 64-bit gram hash would make a hash collision a cross-engine
    divergence (the segment_dedup lesson), and the join key must
    resolve identically in both engines. The distinct-per-doc step
    precedes the document-frequency count, so df really is
    documents-containing, not occurrences.

    Shape: tokenize -> in-row gram construction (no explode until
    grams exist) -> explode -> (doc, gram) DISTINCT hash agg -> per-
    gram window count over that same stream (the tfidf_top_terms
    one-pass df trick: distinct pairs mean count(*) per gram == df)
    -> per-doc rollup. Two gram-keyed shuffles, both map-side
    combined; short docs (< n tokens) surface with zero grams."""
    from simpleetlpipeline_spark.io import fan_out

    from pyspark.sql import Window

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    pairs = (docs
             .withColumn("__toks", tokens_col(F.col("text")))
             .select("doc_id",
                     F.explode(word_gram_strings_expr(n)).alias("gram"))
             .distinct())
    w_gram = Window.partitionBy("gram")
    per_doc = (pairs
               .withColumn("df", F.count(F.lit(1)).over(w_gram))
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                    F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                    .cast("long").alias("n_unique")))
    return (read_table(spark, sf_dir, "documents").select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
                F.when(F.coalesce("n_grams", F.lit(0)) > 0,
                       F.expr("n_unique * 1000000 div n_grams"))
                .otherwise(F.lit(None).cast("long"))
                .alias("novelty_micro")))


QUERIES["ngram_novelty_score"] = ngram_novelty_score

ORACLE_SQL["ngram_novelty_score"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), pairs AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + {NOVELTY_N - 1}),
                               ' ') AS gram
        FROM t, LATERAL (
            SELECT unnest(range(1, len(toks) - {NOVELTY_N - 2}))
        ) AS r(i)
        WHERE len(toks) >= {NOVELTY_N}
    ), per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique
        FROM (
            SELECT doc_id,
                   count(*) OVER (PARTITION BY gram) AS df
            FROM pairs
        ) GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_unique, 0) AS n_unique,
           CASE WHEN COALESCE(p.n_grams, 0) > 0
                THEN p.n_unique * 1000000 // p.n_grams
                ELSE CAST(NULL AS BIGINT) END AS novelty_micro
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def token_fertility_by_source(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Tokenizer-fertility report per source: subword (BPE-ish
    pretokenizer) tokens per whitespace word and characters per
    subword token — the per-corpus-slice numbers a training pipeline
    uses to convert document budgets into token budgets and to spot
    sources the tokenizer fragments badly (code, non-Latin text,
    boilerplate markup). Extends the doc_stats/token_count family
    (the reference has no text surface; SURVEY §2.6 quality analog).

    Exactness: per-document token/word/char counts are exact ints
    from the SAME regexes the oracled token_count_bpe uses; per-source
    ratios are exact BIGINT milli-unit divisions (`div` == `//`).
    Shape: one narrow projection, one map-side-combined hash agg to
    |sources| rows — linear at any corpus size.
    """
    docs = read_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit(BPE_TOKEN_RE), 0))
        .cast("long").alias("bpe"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("words"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
        .cast("long").alias("chars"))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("bpe").alias("n_bpe_tokens"),
                 F.sum("words").alias("n_ws_words"),
                 F.sum("chars").alias("n_chars"))
            .select("source", "n_docs", "n_bpe_tokens", "n_ws_words",
                    "n_chars",
                    F.expr("n_bpe_tokens * 1000 div n_ws_words")
                    .alias("fertility_milli"),
                    F.expr("n_chars * 1000 div n_bpe_tokens")
                    .alias("chars_per_token_milli"))
            .orderBy("source"))


QUERIES["token_fertility_by_source"] = token_fertility_by_source
ORACLE_SQL["token_fertility_by_source"] = f"""
    WITH per_doc AS (
        SELECT source,
               CAST(len(regexp_extract_all(lower(text),
                    '{BPE_TOKEN_RE}')) AS BIGINT) AS bpe,
               CAST(len(string_split_regex(lower(trim(text)),
                    '\\s+')) AS BIGINT) AS words,
               CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                    AS BIGINT) AS chars
        FROM documents
    ), agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
               CAST(sum(words) AS BIGINT) AS n_ws_words,
               CAST(sum(chars) AS BIGINT) AS n_chars
        FROM per_doc GROUP BY 1
    )
    SELECT source, n_docs, n_bpe_tokens, n_ws_words, n_chars,
           n_bpe_tokens * 1000 // n_ws_words AS fertility_milli,
           n_chars * 1000 // n_bpe_tokens AS chars_per_token_milli
    FROM agg
    ORDER BY source
"""


#: Number of BPE merge rounds the trainer learns (the demonstrative
#: loop depth — production trainers run tens of thousands of rounds
#: over a frequency-sampled vocab with exactly this per-round shape).
BPE_TRAIN_ROUNDS = 8


def bpe_train_merges(spark: SparkSession, sf_dir: str,
                     rounds: int = BPE_TRAIN_ROUNDS) -> DataFrame:
    """Iterative BPE vocabulary induction — the actual training loop
    bpe_merge_pairs only runs one round of: learn `rounds` merges,
    each round counting adjacent symbol pairs (weighted by word
    frequency), picking the argmax (ties: lexicographically smallest
    pair, so the learned vocabulary is fully deterministic), and
    applying the merge before recounting. Returns the learned merge
    table — rank, pair, merged symbol, and the pair's weighted
    frequency at merge time.

    Scale shape (why this survives 100 TB): after ONE corpus-sized
    shuffle the loop operates on the DISTINCT-WORD frequency table —
    vocabulary-tier, orders of magnitude smaller than the corpus and
    the exact structure production BPE trainers iterate on. Each
    round is a pair explode + map-side-combined hash agg over that
    small frame and a 1-row TakeOrdered collect (the learned merge —
    a scalar, the sanctioned per-round driver hop the
    k-means/pagerank loops also make).

    Merge application runs entirely in the JVM (round-12 rewrite,
    optimization guide §4.1): each word is carried as a
    chr(1)-delimited symbol string (every symbol wrapped as
    \\x01sym\\x01 — the SAME representation the DuckDB oracle twin
    uses), so applying merge (a,b) is one literal `replace()` of
    '\\x01a\\x01\\x01b\\x01' with '\\x01ab\\x01'. Java's replace
    scans left-to-right non-overlapping and resumes AFTER the
    replacement — exactly the greedy semantics of the previous
    Arrow-batched pandas kernel (each match consumes both wrapped
    symbols including their guards, so a freshly-merged symbol can
    never fuse with the next match; symbols never contain chr(1)).
    This removed the per-round ArrowEvalPython stage (8 Python
    round-trips over the whole vocab) and the per-round
    persist/unpersist churn: only the base symbol table is
    persisted, and round r re-applies the r-1 learned replaces —
    narrow constant-cost string maps over the cached vocab-tier
    frame, no shuffle (measured 4.5s -> ~1.8s at sf0.1).

    Rows-only entry (an iterative argmax loop is not expressible as
    one SQL statement): correctness is pinned by
    tests/test_functions.py::test_bpe_train_merges_matches_python —
    a from-scratch pure-Python BPE trainer on the same corpus must
    produce the identical merge table.
    """
    from simpleetlpipeline_spark.cache import track

    g = "\x01"
    words = (read_table(spark, sf_dir, "documents")
             .select(F.explode(tokens_col(F.col("text"))).alias("w"))
             .filter(F.col("w") != "")
             .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    base = track(
        words.select(
            F.regexp_replace(F.col("w"), "(.)", f"{g}$1{g}").alias("s"),
            "freq")
        .persist())

    learned = []
    vocab = base
    for rank in range(1, rounds + 1):
        syms = F.split(F.col("s").substr(
            F.lit(2), F.length("s") - 2), g + g)
        n = F.size(syms)
        pairs = (vocab.select(syms.alias("sym"), "freq")
                 .filter(n >= 2)
                 .select(F.explode(F.arrays_zip(
                     F.slice("sym", 1, F.size("sym") - 1).alias("a"),
                     F.slice("sym", 2, F.size("sym") - 1).alias("b")))
                     .alias("p"), "freq")
                 .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                 .agg(F.sum("freq").alias("pf")))
        top = (pairs.orderBy(F.desc("pf"), F.asc("a"), F.asc("b"))
               .limit(1).collect())
        if not top:
            break
        a, b, pf = top[0]["a"], top[0]["b"], int(top[0]["pf"])
        learned.append((rank, a, b, a + b, pf))
        vocab = vocab.select(
            F.replace(F.col("s"), F.lit(f"{g}{a}{g}{g}{b}{g}"),
                      F.lit(f"{g}{a}{b}{g}")).alias("s"),
            "freq")
    base.unpersist()
    from simpleetlpipeline_spark.io import driver_rows_df

    return driver_rows_df(
        spark, learned, "rank int, left string, right string, "
                        "merged string, pair_freq long")


QUERIES["bpe_train_merges"] = bpe_train_merges


def _bpe_train_sql(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """DuckDB twin of bpe_train_merges (round-9 verdict task #3:
    the trainer is deterministic given the corpus, so it IS
    hash-oracle-able — the loop just has to be UNROLLED, like the
    label-propagation CC oracle).

    Cross-paradigm by construction: Spark rewrites symbol ARRAYS in
    an Arrow-batched pandas kernel; the oracle carries each word as
    a chr(1)-delimited STRING — every symbol wrapped as \\x01sym\\x01
    and concatenated — so one round's merge of pair (a,b) is a
    single SQL replace() of '\\x01a\\x01\\x01b\\x01' with
    '\\x01ab\\x01'. replace() substitutes left-to-right,
    non-overlapping, resuming AFTER the replacement — exactly the
    greedy scan semantics of the pandas merge_one loop (each match
    consumes both wrapped symbols including their guards, so a
    freshly-merged symbol can never fuse with the next match, and
    symbols never contain chr(1), so matches align to symbol
    boundaries). Pair counting splits the string back to a list
    (trim guards, split on the doubled delimiter) and unnests
    adjacent zips; the argmax keeps the engine's tie-break
    (freq DESC, then lexicographically smallest pair, binary
    collation on both engines). Every CTE is MATERIALIZED: each
    round references its predecessor twice and DuckDB inlines CTEs
    by default (the exponential-expansion hazard documented on
    _cc_label_prop_sql)."""
    g = "chr(1)"
    gg = f"{g} || {g}"
    ctes = [
        """words AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split_regex(lower(trim(text)),
                                             '\\s+')) AS w
            FROM documents)
        WHERE w <> '' GROUP BY w)""",
        f"""v0 AS MATERIALIZED (
        SELECT regexp_replace(w, '(.)', {g} || '\\1' || {g}, 'g') AS s,
               freq
        FROM words)""",
    ]
    for r in range(1, rounds + 1):
        prev = f"v{r - 1}"
        ctes.append(f"""m{r} AS MATERIALIZED (
        SELECT a, b, sum(freq) AS pf
        FROM (
            SELECT z[1] AS a, z[2] AS b, freq
            FROM (
                SELECT unnest(list_zip(syms[1:len(syms) - 1],
                                       syms[2:len(syms)])) AS z,
                       freq
                FROM (SELECT string_split(trim(s, {g}), {gg}) AS syms,
                             freq
                      FROM {prev})
                WHERE len(syms) >= 2))
        GROUP BY a, b
        ORDER BY pf DESC, a ASC, b ASC LIMIT 1)""")
        if r < rounds:
            ctes.append(f"""v{r} AS MATERIALIZED (
        SELECT replace(s, {g} || m.a || {gg} || m.b || {g},
                       {g} || m.a || m.b || {g}) AS s, freq
        FROM {prev}, m{r} m)""")
    unions = "\n    UNION ALL ".join(
        f"""SELECT {r} AS rank, a AS "left", b AS "right",
               a || b AS merged, CAST(pf AS BIGINT) AS pair_freq
        FROM m{r}""" for r in range(1, rounds + 1))
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT CAST(rank AS INTEGER) AS rank,"
              f" \"left\", \"right\", merged, pair_freq"
              f" FROM ({unions}) ORDER BY rank")


ORACLE_SQL["bpe_train_merges"] = _bpe_train_sql()
