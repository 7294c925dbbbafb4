"""Skew-aware aggregation (SURVEY.md §7 scale notes; build brief
'salting for skew').

Spark's hash aggregate already does map-side partial combine, which
defuses most key skew for algebraic aggregates. The residual hazard
at 100 TB is a LOW-cardinality groupBy (few reducers own everything)
or a hot key whose partials still swamp one task. salted_agg makes
the standard fix explicit and reusable: stage 1 aggregates on
(keys + pmod(xxhash64(salt-source), n_salts)) spreading each hot key
over n_salts reducers; stage 2 merges the n_salts partials per key.
Only algebraic aggregates (count/sum/min/max, avg as sum/count) can
be merged this way — holistic ones (median, distinct) need different
machinery (approx sketches).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (stage1 partial, stage2 merge) expression builders per agg kind.
#: COUNT keeps SQL semantics: count('*') counts rows, count(col)
#: counts non-null values — the partial must look at the column or
#: ('count', col) / the avg decomposition would silently count nulls.
_MERGES = {
    "count": (lambda c: F.count(F.lit(1)) if c in ("*", None, "")
              else F.count(F.col(c)), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(df: DataFrame, keys: list[str],
               aggs: dict[str, tuple[str, str]],
               n_salts: int = 32,
               salt_source: Column | None = None) -> DataFrame:
    """Two-stage salted aggregation.

    aggs maps output column -> (kind, input column), kind in
    {count, sum, min, max, avg}. avg decomposes into sum+count
    partials merged as sum(sum)/sum(count).
    """
    expanded: dict[str, tuple[str, str]] = {}
    avg_cols: list[str] = []
    for out, (kind, col) in aggs.items():
        if kind == "avg":
            expanded[f"__{out}_sum"] = ("sum", col)
            expanded[f"__{out}_cnt"] = ("count", col)
            avg_cols.append(out)
        elif kind in _MERGES:
            expanded[out] = (kind, col)
        else:
            raise ValueError(f"non-algebraic aggregate: {kind}")

    salt = F.pmod(
        F.xxhash64(salt_source if salt_source is not None
                   else F.spark_partition_id()),
        F.lit(n_salts)).alias("__salt")
    partial = df.groupBy(*keys, salt).agg(*[
        _MERGES[kind][0](col).alias(out)
        for out, (kind, col) in expanded.items()
    ])
    merged = partial.groupBy(*keys).agg(*[
        _MERGES[kind][1](out).alias(out)
        for out, (kind, col) in expanded.items()
    ])
    for out in avg_cols:
        merged = merged.withColumn(
            out, F.col(f"__{out}_sum") / F.col(f"__{out}_cnt")
        ).drop(f"__{out}_sum", f"__{out}_cnt")
    return merged


def key_skew_report(df: DataFrame, key: str, top_n: int = 10) -> DataFrame:
    """Skew diagnosis for a prospective shuffle key: the top-N
    heaviest key values with their share of all rows and the running
    cumulative share.

    This is the report you run BEFORE picking a partitioning/salting
    strategy: a top key owning >1/executor-count of the rows means
    its reducer becomes the stage's straggler, and salted_agg (or
    AQE skew-join splitting) is warranted. Cost: one map-side-combined
    count per key + a broadcast of the single-row total; the top-N
    plans as TakeOrderedAndProject.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_rows"), F.asc(key))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share",
                    F.floor(F.col("n_rows") / F.col("__total") * 1000000)
                    / 1000000)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .withColumn("cum_share",
                    F.floor(F.sum("n_rows").over(
                        w.rowsBetween(Window.unboundedPreceding, 0))
                        / F.col("__total") * 1000000) / 1000000)
        .select(F.col(key).alias("key"), "rank", "n_rows", "share",
                "cum_share")
    )


def salted_topk(df: DataFrame, keys: list[str], order_by: list[Column],
                k: int, n_salts: int = 16,
                salt_source: Column | None = None) -> DataFrame:
    """Two-phase skew-proof top-k per key.

    A plain `row_number() OVER (PARTITION BY keys ORDER BY ...)`
    sorts EVERY row of a key inside one task — a hot key at 100 TB
    is a straggler or an OOM. Stage 1 ranks within (keys, salt)
    so no task ever sorts more than ~|hot key|/n_salts rows and
    keeps only k survivors per salt; stage 2 re-ranks the <=
    k*n_salts survivors per key — a bounded, trivially small sort.

    Identical results to the single window iff `order_by` is a
    TOTAL order (pass a unique tiebreaker column last) — otherwise
    tied rows at the k boundary may legitimately differ, same as
    any underspecified SQL top-k. Only the final rank column
    `topk_rank` is appended (rename it downstream if needed); a
    pre-existing column of that name is an error (it would be
    silently clobbered otherwise), and the internal temp columns
    pick non-colliding names so the helper composes with its own
    output.
    """
    from pyspark.sql import Window

    rank_col = "topk_rank"
    if rank_col in df.columns:
        raise ValueError(
            f"salted_topk would clobber existing column {rank_col!r}; "
            "rename it first")
    salt_c, r1_c = "__salt", "__r1"
    while salt_c in df.columns:
        salt_c += "_"
    while r1_c in df.columns:
        r1_c += "_"
    # the salt must vary WITHIN a key (salting by key alone spreads
    # nothing): default is a hash of the whole row
    salt = F.pmod(
        salt_source if salt_source is not None
        else F.xxhash64(*[F.col(c) for c in df.columns]),
        F.lit(n_salts))
    w1 = Window.partitionBy(*keys, salt_c).orderBy(*order_by)
    w2 = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(salt_c, salt)
        .withColumn(r1_c, F.row_number().over(w1))
        .filter(F.col(r1_c) <= k)
        .withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .drop(salt_c, r1_c)
    )


def ordered_pairs(arr: Column, emit) -> Column:
    """The flattened array of `emit(x, y)` for every element `x` of
    `arr` and every element `y` after it — on a sorted distinct
    posting list, exactly the C(n, 2) pairs with x < y, in order.

    The pair fan-out of basket mining, LSH bucket candidates and
    shared-gram scoring: pairs are emitted inside the row that holds
    the posting list, so no self-join re-reads (or re-computes) the
    list's source. Callers bound the fan-out by capping the list
    before it is built (BASKET_CAP, BUCKET_CAP, DF_CAP)."""
    return F.flatten(F.transform(
        arr,
        lambda x, i: F.transform(F.slice(arr, i + 2, F.size(arr)),
                                 lambda y: emit(x, y))))


def two_pass_global_window(df: DataFrame, key_col: str,
                           order_cols: list[Column] | None = None,
                           value_col: str | list[str] | None = None,
                           n_buckets: int = 1024,
                           rank_out: str | None = "rank",
                           cum_out: str | list[str] | None = None,
                           total_rows_out: str | None = None,
                           total_value_out: str | list[str] | None = None,
                           key_bounds: tuple[float, float] | None = None,
                           ) -> DataFrame:
    """Distributed global row_number / inclusive prefix sum — the
    two-pass replacement for an UNPARTITIONED window over a row-tier
    frame (Spark plans ``Window.orderBy(...)`` with no partitionBy as
    Exchange SinglePartition: one task sorts the whole table, the
    100 TB straggler this helper exists to remove).

    Shape (all content-keyed, so deterministic with NO persist —
    nothing depends on physical partition ids or sampling):

      1. one scalar agg broadcasts min/max of ``key_col``;
      2. every row gets a coarse bucket = floor((key-min)/span *
         n_buckets) — monotone in the key, so buckets are disjoint
         ordered ranges of the total order;
      3. one tiny groupBy(bucket) counts rows (and sums
         ``value_col``); the <= n_buckets-row spine takes ONE
         unpartitioned window for exclusive offsets (the sanctioned
         pre-aggregated-spine tier) and broadcasts back;
      4. a window PARTITIONED by bucket ranks/sums within each
         bucket; global rank = bucket offset + within-bucket rank.

    ``order_cols`` must start with ``key_col`` (rows compare first on
    the bucketing key) and end with a unique tiebreaker so the total
    order is exact. Equal keys always share a bucket, so bucket
    boundaries can never split a tie.

    Size ``n_buckets`` so a bucket fits one task: parallelism equals
    n_buckets, and the within-bucket sort is ~N/n_buckets rows (keys
    assumed spread; a constant key degenerates to one bucket — the
    same single sort the naive window always pays).

    Appends only the requested columns: ``rank_out`` (1-based global
    row number), ``cum_out`` (inclusive prefix sum of value_col),
    ``total_rows_out`` / ``total_value_out`` (grand totals, the
    scalars ntile-style assignments need without a second pass).

    ``value_col`` (with matching ``cum_out`` / ``total_value_out``)
    also accepts a LIST of columns: every listed column's prefix sum
    and total ride the SAME min/max scalar agg, spine aggregate and
    within-bucket window — one pass over the frame instead of one
    full two-pass stack per measure (round-12 optimization; the
    order_value_ks_drift caller needed two cumulative sums and paid
    the spine machinery twice).

    ``key_bounds=(lo, hi)`` (round 13, guide §2.4): when the caller
    KNOWS the key's domain statically (e.g. a z-value interleaving
    b-bit fields lives in [0, 2^2b)), the min/max scalar pass — a
    full extra evaluation of the input — is skipped and the bucket
    function uses the given bounds. Ranks are exact for ANY monotone
    disjoint bucketing (offsets come from actual counts), so bounds
    only have to CONTAIN the keys; a clustered distribution just
    spreads unevenly across buckets, the hot-key caveat that already
    applies to the measured min/max.
    """
    from pyspark.sql import Window

    if order_cols is None:
        order_cols = [F.col(key_col)]
    value_cols = ([value_col] if isinstance(value_col, str)
                  else list(value_col or []))
    cum_outs = ([cum_out] if isinstance(cum_out, str)
                else list(cum_out or []))
    total_value_outs = (
        [total_value_out] if isinstance(total_value_out, str)
        else list(total_value_out or []))
    if cum_outs and len(cum_outs) != len(value_cols):
        raise ValueError("cum_out must match value_col arity")
    if total_value_outs and len(total_value_outs) != len(value_cols):
        raise ValueError("total_value_out must match value_col arity")
    b_c, mn_c, mx_c, cnt_c = ("__b", "__mn", "__mx", "__cnt")
    off_c, nt_c = ("__off", "__nt")
    vs_cs = [f"__vs{i}" for i in range(len(value_cols))]
    voff_cs = [f"__voff{i}" for i in range(len(value_cols))]
    vt_cs = [f"__vt{i}" for i in range(len(value_cols))]
    for c in (b_c, mn_c, mx_c, off_c, nt_c, *vs_cs, *voff_cs, *vt_cs):
        if c in df.columns:
            raise ValueError(f"two_pass_global_window temp column "
                             f"{c!r} collides with input")

    if key_bounds is not None:
        lo, hi = (float(key_bounds[0]), float(key_bounds[1]))
        mn_e, mx_e = F.lit(lo), F.lit(hi)
    else:
        mn_e, mx_e = F.col(mn_c), F.col(mx_c)
    span = mx_e - mn_e
    # NULL keys land in bucket 0: min/max ignore NULLs, so a NULL key
    # would otherwise get a NULL bucket and silently drop out of the
    # spine equi-join. ASC window ordering ranks NULLs FIRST, and
    # bucket 0 is the first bucket with NULLs sorting first inside it
    # (orderBy ascending), so the identity with the unpartitioned
    # window is preserved for nullable keys too (identity test in
    # tests/test_plans.py::test_two_pass_window_null_keys).
    bucket = F.when(F.col(key_col).isNull(), F.lit(0)).otherwise(
        F.when(span <= 0, F.lit(0)).otherwise(
            F.greatest(  # clamp keys outside declared key_bounds:
                F.least(  # monotone, ties stay co-bucketed
                    F.floor((F.col(key_col).cast("double") - mn_e)
                            / span * n_buckets),
                    F.lit(n_buckets - 1)),
                F.lit(0)))).cast("int")
    if key_bounds is not None:
        keyed = df.withColumn(b_c, bucket)
    else:
        mm = df.agg(F.min(key_col).cast("double").alias(mn_c),
                    F.max(key_col).cast("double").alias(mx_c))
        keyed = (df.crossJoin(F.broadcast(mm))
                 .withColumn(b_c, bucket).drop(mn_c, mx_c))

    aggs = [F.count(F.lit(1)).alias(cnt_c)]
    for vc, vs_c in zip(value_cols, vs_cs):
        aggs.append(F.sum(vc).alias(vs_c))
    counts = keyed.groupBy(b_c).agg(*aggs)
    spine_w = Window.orderBy(b_c)
    prev = spine_w.rowsBetween(Window.unboundedPreceding, -1)
    whole = spine_w.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing)
    spine_cols = [
        F.col(b_c),
        F.coalesce(F.sum(cnt_c).over(prev), F.lit(0)).alias(off_c),
        F.sum(cnt_c).over(whole).alias(nt_c)]
    for vs_c, voff_c, vt_c in zip(vs_cs, voff_cs, vt_cs):
        spine_cols += [
            F.coalesce(F.sum(vs_c).over(prev),
                       F.lit(0).cast("long")).alias(voff_c),
            F.sum(vs_c).over(whole).alias(vt_c)]
    spine = counts.select(*spine_cols)

    wb = Window.partitionBy(b_c).orderBy(*order_cols)
    out = keyed.join(F.broadcast(spine), b_c)
    keep = list(df.columns)
    if rank_out is not None:
        out = out.withColumn(
            rank_out,
            (F.col(off_c) + F.row_number().over(wb)).cast("long"))
        keep.append(rank_out)
    for vc, voff_c, co in zip(value_cols, voff_cs, cum_outs):
        out = out.withColumn(
            co,
            F.col(voff_c) + F.sum(vc).over(
                wb.rowsBetween(Window.unboundedPreceding, 0)))
        keep.append(co)
    if total_rows_out is not None:
        out = out.withColumn(total_rows_out, F.col(nt_c))
        keep.append(total_rows_out)
    for vt_c, to in zip(vt_cs, total_value_outs):
        out = out.withColumn(to, F.col(vt_c))
        keep.append(to)
    return out.select(*keep)


def two_pass_global_ranks(df: DataFrame,
                          specs: list[tuple[str, list[Column], str]],
                          n_buckets: int = 1024,
                          total_rows_out: str | None = None,
                          ) -> DataFrame:
    """Several INDEPENDENT distributed global row_numbers over the
    same frame in one shared two-pass stack (round-12 optimization;
    motivating caller: customer_rfm_segments' three RFM rankings,
    which previously ran the full two_pass_global_window machinery
    three times and re-joined each ranking on the entity key —
    3 scalar aggs + 3 spines + 3 shuffle joins for one frame).

    ``specs`` is a list of (key_col, order_cols, rank_out); each
    produces the identical rank two_pass_global_window would (same
    bucket function, same NULL/degenerate-span guards, same
    within-bucket ordering), but:

      * ONE scalar aggregate broadcasts min/max of ALL keys;
      * ONE spine job: per-row (spec, bucket) pairs explode into a
        tiny tagged frame, aggregated and offset in a single window
        over <= len(specs) * n_buckets rows, broadcast once (each
        per-spec join filters its tag out of the SAME broadcast);
      * rank columns are appended by CHAINED per-bucket windows on
        the main frame — no entity-key rejoin.

    Scale shape is unchanged from the single-spec helper: nothing
    unpartitioned ever sees more than the spine, and each window
    task sorts ~N/n_buckets rows of one measure.
    """
    from pyspark.sql import Window

    mm_aggs: list[Column] = []
    for i, (key_col, _o, _r) in enumerate(specs):
        mm_aggs += [F.min(key_col).cast("double").alias(f"__mn{i}"),
                    F.max(key_col).cast("double").alias(f"__mx{i}")]
    mm = df.agg(*mm_aggs)
    keyed = df.crossJoin(F.broadcast(mm))
    for i, (key_col, _o, _r) in enumerate(specs):
        span = F.col(f"__mx{i}") - F.col(f"__mn{i}")
        bucket = F.when(F.col(key_col).isNull(), F.lit(0)).otherwise(
            F.when(span <= 0, F.lit(0)).otherwise(
                F.least(
                    F.floor((F.col(key_col).cast("double")
                             - F.col(f"__mn{i}")) / span * n_buckets),
                    F.lit(n_buckets - 1)))).cast("int")
        keyed = keyed.withColumn(f"__b{i}", bucket)
    keyed = keyed.drop(*[c for i in range(len(specs))
                         for c in (f"__mn{i}", f"__mx{i}")])

    tagged = keyed.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("__tag"),
                 F.col(f"__b{i}").alias("__tb"))
        for i in range(len(specs))])).alias("e")) \
        .select("e.__tag", "e.__tb")
    counts = tagged.groupBy("__tag", "__tb").agg(
        F.count(F.lit(1)).alias("__cnt"))
    sw = Window.partitionBy("__tag").orderBy("__tb")
    spine = counts.select(
        "__tag", "__tb",
        F.coalesce(
            F.sum("__cnt").over(
                sw.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("__off"),
        F.sum("__cnt").over(
            sw.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)).alias("__nt"))

    out = keyed
    keep = list(df.columns)
    for i, (_k, order_cols, rank_out) in enumerate(specs):
        sl = (spine.filter(F.col("__tag") == i)
              .select(F.col("__tb").alias(f"__sb{i}"),
                      F.col("__off").alias(f"__off{i}"),
                      F.col("__nt").alias(f"__nt{i}")))
        out = out.join(F.broadcast(sl),
                       F.col(f"__b{i}") == F.col(f"__sb{i}"))
        wb = Window.partitionBy(f"__b{i}").orderBy(*order_cols)
        out = out.withColumn(
            rank_out,
            (F.col(f"__off{i}") + F.row_number().over(wb))
            .cast("long"))
        keep.append(rank_out)
    if total_rows_out is not None:
        out = out.withColumn(total_rows_out, F.col("__nt0"))
        keep.append(total_rows_out)
    return out.select(*keep)


def ntile_from_rank(rank: Column, n_rows: Column, n: int) -> Column:
    """SQL ntile(n) recomputed from a global 1-based rank and the
    total row count — bit-identical to the window function (first
    n_rows % n tiles get one extra row), so a two-pass distributed
    rank can replace an ntile window without moving the oracle.

    Integer floor-division is spelled (a - a%b)/b: a - a%b is an
    exact multiple of b, and IEEE division of an exact multiple
    k*b (< 2^53) by b is exactly k — so the result is exact at ANY
    row count, where a bare floor(a/b) double quotient could round
    up across the integer boundary once a*k approaches 2^52."""
    def idiv(a: Column, b: Column) -> Column:
        return ((a - F.pmod(a, b)) / b).cast("long")

    q = idiv(n_rows, F.lit(n))
    rem = (n_rows % n).cast("long")
    small = rem * (q + 1)
    r0 = rank - 1
    return (F.when(rank <= small, idiv(r0, q + 1) + 1)
            .otherwise(rem + idiv(r0 - small, F.greatest(q, F.lit(1)))
                       + 1)
            .cast("int"))
