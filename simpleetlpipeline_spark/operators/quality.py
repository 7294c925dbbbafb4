"""Data-quality profiling (SURVEY.md §2.5 A7-A10) and content hashing.

Reference: DataQualityChecker.check_data_quality (main.py:50-76)
computes per-column null counts, duplicate-row count, and a 0-100
quality score; load_data records an md5 content checksum
(main.py:507).

Spark disposition: the whole profile is TWO distributed passes (one
aggregate for row count + null counts, one distinct-count for
duplicates) regardless of column count — no per-column jobs, no
collect of data rows. The checksum becomes an order-insensitive
64-bit content hash (sum of xxhash64 over canonicalized rows):
pandas' md5(df.to_string()) is order-dependent and impossible to
reproduce distributed, but the *capability* — a content fingerprint
for lineage — is what the metadata table needs (SURVEY.md §7).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


@dataclass
class QualityReport:
    """Mirror of the reference's quality-report dict (main.py:56-66)."""

    table_name: str
    row_count: int
    column_count: int
    null_counts: dict[str, int] = field(default_factory=dict)
    duplicate_rows: int = 0
    quality_score: float = 100.0
    content_hash: str | None = None


def row_hash_col(cols: list[str]) -> F.Column:
    """Null-safe canonical 64-bit row hash.

    coalesce-to-\\x00 sentinel + \\x01 joiner keeps ('a', NULL) and
    (NULL, 'a') distinct — xxhash64 alone silently SKIPS null args,
    so both the duplicate count and the content hash would otherwise
    collapse rows that differ only in which column is null. One
    canonical form shared by both consumers so they can never drift.
    """
    return F.xxhash64(F.concat_ws(
        "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in cols]))


def null_counts_expr(df: DataFrame) -> list[F.Column]:
    """A7: per-column null counts as one aggregate projection."""
    return [
        F.sum(F.col(f.name).isNull().cast("long")).alias(f.name)
        for f in df.schema.fields
    ]


def quality_score(row_count: int, column_count: int, total_nulls: int,
                  duplicate_rows: int) -> float:
    """A10: reference scoring formula (main.py:68-74), exactly:
    max(0, (cells - missing - dup_rows*ncols) / cells * 100) round 2.
    """
    cells = row_count * column_count
    if cells == 0:
        return 0.0
    score = (cells - total_nulls - duplicate_rows * column_count) / cells * 100
    return round(max(0.0, score), 2)


def check_data_quality(df: DataFrame, table_name: str,
                       with_content_hash: bool = False) -> QualityReport:
    """Full profile in ONE distributed aggregate: row count, per-column
    null counts, duplicate-row count (rows - distinct rows, via
    count_distinct over the full-row struct — exact, and equal to
    pandas duplicated().sum()), and optionally the lineage content
    hash. One job regardless of column count; no row collect.
    """
    ncols = len(df.columns)
    # Distinct over the canonical 64-bit row hash (row_hash_col), not
    # the full-row struct: count_distinct in a multi-aggregate plans
    # as an Expand that duplicates every row with the distinct key
    # attached, so the key being 8 bytes instead of the whole wide row
    # roughly halves the pass (measured on 200k-row customers). Exact
    # modulo 64-bit collisions (~n^2/2^65; immaterial for a 0-100
    # quality score).
    row_hash = row_hash_col(df.columns)
    exprs = [
        F.count(F.lit(1)).alias("__rows"),
        F.count_distinct(row_hash).alias("__distinct"),
        *null_counts_expr(df),
    ]
    if with_content_hash:
        exprs.append(
            F.sum(row_hash.cast("decimal(38,0)")).alias("__hash"))
    agg_row: Row = df.agg(*exprs).collect()[0]
    row_count = agg_row["__rows"]
    nulls = {f.name: int(agg_row[f.name] or 0) for f in df.schema.fields}
    dup = row_count - agg_row["__distinct"]
    report = QualityReport(
        table_name=table_name,
        row_count=row_count,
        column_count=ncols,
        null_counts=nulls,
        duplicate_rows=dup,
        quality_score=quality_score(row_count, ncols, sum(nulls.values()), dup),
    )
    if with_content_hash:
        report.content_hash = format(
            int(agg_row["__hash"] or 0) & 0xFFFFFFFFFFFFFFFF, "016x")
    return report


def quality_observe_exprs(cols: list[str]) -> list[F.Column]:
    """The quality profile as observe()-compatible aggregates: row
    count, per-column null counts, and the lineage content hash —
    everything in check_data_quality EXCEPT the duplicate count
    (count_distinct is a distinct aggregate, which CollectMetrics
    rejects). Attached to a write's DataFrame these ride the write
    action itself: the whole profile costs ZERO extra passes over
    the data; only the distinct count needs its own (hash-only)
    aggregate afterwards."""
    return [
        F.count(F.lit(1)).alias("__rows"),
        F.sum(row_hash_col(cols).cast("decimal(38,0)")).alias("__hash"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}")
          for c in cols],
    ]


def report_from_observation(vals: dict, cols: list[str], table_name: str,
                            duplicate_rows: int) -> QualityReport:
    """Assemble the QualityReport from observe() metrics + the
    separately-computed duplicate count. Same formulas as
    check_data_quality — the two paths are parity-tested."""
    rows = vals["__rows"]
    nulls = {c: int(vals[f"__null_{c}"] or 0) for c in cols}
    report = QualityReport(
        table_name=table_name,
        row_count=rows,
        column_count=len(cols),
        null_counts=nulls,
        duplicate_rows=duplicate_rows,
        quality_score=quality_score(rows, len(cols), sum(nulls.values()),
                                    duplicate_rows),
    )
    report.content_hash = format(
        int(vals["__hash"] or 0) & 0xFFFFFFFFFFFFFFFF, "016x")
    return report


def distinct_row_count(df: DataFrame) -> int:
    """Distinct canonical-row-hash count — the one profile component
    that cannot ride an observe(). A single two-stage hash aggregate
    over the 8-byte row hash (no Expand: it is the only aggregate in
    the plan)."""
    return df.select(row_hash_col(df.columns).alias("h")) \
        .agg(F.count_distinct("h").alias("d")).collect()[0]["d"]


def content_hash(df: DataFrame) -> str:
    """Order-insensitive dataset fingerprint (replaces main.py:507).

    The null-safe canonical row hash (row_hash_col) summed as
    decimal(38,0) (a long sum would hit ANSI ARITHMETIC_OVERFLOW on
    any real table) then wrapped to 64 bits. Commutative, so
    partition/order changes don't alter it; fully distributed (one
    aggregate, no row collect).
    """
    h = df.select(
        row_hash_col(df.columns).cast("decimal(38,0)").alias("h")
    ).agg(F.sum("h").alias("s")).collect()[0]["s"]
    return format(int(h or 0) & 0xFFFFFFFFFFFFFFFF, "016x")


K_ANONYMITY_K = 5


def k_anonymity_report(spark, sf_dir: str, k: int = K_ANONYMITY_K):
    """Privacy QA for training/analytics data: k-anonymity audit of
    the customer dimension under a generalization ladder of
    quasi-identifiers — level 'nation+segment' (the full QI set) and
    level 'nation' (segment suppressed). For each level: equivalence
    classes, the smallest class, how many classes fall below `k`,
    and how many ROWS sit in those identifiable classes — the number
    a release review actually gates on. Rows-at-risk shrinking as
    the ladder generalizes is the monotonicity the suppression
    strategy relies on.

    One hash aggregate per level (map-side combined, |QI-classes|
    groups), then a one-row rollup each — no joins, no windows,
    exact integers throughout.

    Reference parity note: the reference has no privacy surface at
    all; this extends the quality/validation family (SURVEY §2.6)
    the way a governance-conscious migration would.
    """
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table

    cust = read_table(spark, sf_dir, "customer")

    def level(name, cols):
        classes = cust.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
        return classes.agg(
            F.lit(name).alias("qi_level"),
            F.count(F.lit(1)).alias("n_classes"),
            F.min("n").alias("min_class_size"),
            F.sum(F.when(F.col("n") < k, 1).otherwise(0))
            .alias("n_violating_classes"),
            F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(F.lit(0)))
            .alias("n_rows_at_risk"))

    return (level("nation+segment", ["c_nationkey", "c_mktsegment"])
            .unionByName(level("nation", ["c_nationkey"]))
            .orderBy("qi_level"))


def table_stats_profile(spark, sf_dir: str, ndv_mode: str = "exact"):
    """ANALYZE-style column statistics for the orders table: one row
    per column with row/null counts, distinct count, and
    type-canonical min/max — the optimizer-statistics collection
    (ndv, null fraction, bounds) every cost-based planner and data
    catalog runs after a load.

    ``ndv_mode`` (r7 verdict task #5 — the 100 TB swap-in is now a
    parameter, not a comment): ``"exact"`` (default; the oracle's
    form) plans the multi-column count(DISTINCT) as Spark's Expand —
    5x the scan into one shuffle; ``"approx"`` swaps each NDV for
    approx_count_distinct (HLL++, mergeable sketches, no Expand),
    which is what you run at 100 TB where a 5x row multiplication
    of the fact scan is real money and +-2% NDV error is free. Only
    the exact mode is oracle-compared; the approx mode is pinned by
    a relative-error pytest (tests/test_stats_ops.py).

    Canonical-exact contract (no engine repr leaks): numeric bounds
    are BIGINT (cents for the money column, epoch micros for the
    timestamp); string bounds travel as strings (ASCII domain,
    binary collation in both engines); avg string length is an
    exact milli-unit integer division. A double's own string repr
    never appears — Spark and DuckDB shortest-round-trip formatting
    is exactly the cross-engine hazard this schema avoids.

    Shape: ONE scan; the multi-column exact count(DISTINCT) plans as
    Spark's Expand (5x rows into one shuffle, map-side partial per
    column) — the documented 100 TB swap-in is approx_count_distinct
    (HLL++, the approx_distinct_users contract) per column, which
    collapses the expand to mergeable sketches. Output is 5 rows.
    """
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table

    assert ndv_mode in ("exact", "approx"), ndv_mode
    orders = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    micros = (F.unix_micros(F.col("o_orderdate"))).cast("long")

    def ndv(col):
        if ndv_mode == "approx":
            return F.approx_count_distinct(col)
        return F.count_distinct(col)

    profiled = (
        ("o_orderkey", F.col("o_orderkey")),
        ("o_custkey", F.col("o_custkey")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_totalprice", cents),
        ("o_orderdate", micros),
    )
    # Exact multi-column count(DISTINCT) plans as Expand — 5 replicas
    # of every row through one shuffle. Keep that aggregate NDV-ONLY:
    # fusing the null/min/max/len stats into the same agg drags every
    # payload column through the 5x replication and evaluates all 21
    # partial aggregates per expanded row (measured 14s vs ~5s for
    # the split form at sf1). The cheap stats run in their own
    # single-replica pass and the two one-row results cross-join.
    ndvs = orders.agg(*[
        ndv(col).cast("long").alias(f"nd_{name}")
        for name, col in profiled])
    cheap = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[x for name, col in profiled for x in (
            F.sum(F.when(col.isNull(), 1).otherwise(0)).cast("long")
            .alias(f"nn_{name}"),
            F.min(col).cast("string").alias(f"mn_{name}"),
            F.max(col).cast("string").alias(f"mx_{name}"),
        )],
        F.sum(F.length("o_orderstatus")).cast("long").alias("len_status"),
    )
    agg = ndvs.crossJoin(cheap)
    # ONE aggregate row fans out to 5 result rows via inline —
    # a 5-way union of selects over the same lineage would recompute
    # the full-table aggregate five times
    def entry(name: str) -> F.Column:
        # exact integer div (BIGINT `div`, truncating like the
        # oracle's `//`): a double-quotient floor re-rounds at the
        # 2^53 boundary — the ntile_from_rank hazard
        avg_len = (
            F.expr(f"len_status * 1000 div (n_rows - nn_{name})")
            .cast("long")
            if name == "o_orderstatus" else F.lit(None).cast("long"))
        return F.struct(
            F.lit(name).alias("column_name"),
            F.col("n_rows"),
            F.col(f"nn_{name}").alias("n_null"),
            F.col(f"nd_{name}").alias("n_distinct"),
            F.col(f"mn_{name}").alias("min_canonical"),
            F.col(f"mx_{name}").alias("max_canonical"),
            avg_len.alias("avg_len_milli"))

    return (agg.select(F.inline(F.array(*[
        entry(n) for n in ("o_custkey", "o_orderdate", "o_orderkey",
                           "o_orderstatus", "o_totalprice")])))
        .orderBy("column_name"))


def expectation_suite_report(spark, sf_dir: str):
    """Declarative data-quality expectation suite (the dbt-tests /
    Great-Expectations shape, run as ONE Spark job): each expectation
    over the orders/lineitem tables reports rows checked, rows
    failing, and a verdict — the contract gate a warehouse load runs
    before publishing a snapshot. Extends the reference's inline
    validation_rules (SURVEY §2.6) into the reusable named-suite
    form; same checks, auditable output.

    Suite: not_null(o_custkey), unique(o_orderkey),
    accepted_range(o_totalprice > 0), accepted_values(o_orderstatus),
    relationships(lineitem.l_orderkey -> orders.o_orderkey).

    Shape: the row-level expectations fold in ONE pass over orders
    (conditional-count aggregate, map-side combined); uniqueness is
    one keyed aggregate (count vs distinct count in the same pass);
    the FK check is the established anti-join. Each result is a
    1-row aggregate; the report is their union — 5 rows however big
    the tables. Exact integers only."""
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey")

    def row(name, checked, failed):
        return (F.lit(name).alias("expectation"),
                checked.cast("long").alias("n_checked"),
                failed.cast("long").alias("n_failed"))

    n = F.count(F.lit(1))
    row_level = orders.agg(F.struct(*row(
        "not_null__o_custkey", n,
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
    )).alias("e1"), F.struct(*row(
        "accepted_range__o_totalprice_gt_0", n,
        F.sum(F.when(F.col("o_totalprice") > 0, 0).otherwise(1))
    )).alias("e2"), F.struct(*row(
        "accepted_values__o_orderstatus", n,
        F.sum(F.when(F.col("o_orderstatus").isin("P", "O", "F"),
                     0).otherwise(1))
    )).alias("e3"), F.struct(*row(
        "unique__o_orderkey", n,
        n - F.count_distinct("o_orderkey")
    )).alias("e4"))
    flat = row_level.select(F.explode(F.array(
        "e1", "e2", "e3", "e4")).alias("e")).select("e.*")
    fk = (li.join(orders.select("o_orderkey"),
                  li["l_orderkey"] == F.col("o_orderkey"), "left_anti")
          .agg(*row("relationships__l_orderkey_in_orders",
                    F.lit(None), F.count(F.lit(1)))))
    fk_total = li.agg(F.count(F.lit(1)).alias("__t"))
    fk = (fk.crossJoin(F.broadcast(fk_total))
          .select("expectation", F.col("__t").alias("n_checked"),
                  "n_failed"))
    return (flat.unionByName(fk)
            .withColumn("passed", F.col("n_failed") == 0)
            .orderBy("expectation"))


#: l-diversity threshold: an equivalence class whose sensitive
#: attribute shows fewer than L distinct values is re-identifiable by
#: homogeneity even when it satisfies k-anonymity.
L_DIVERSITY_L = 3


def l_diversity_report(spark, sf_dir: str, l_min: int = L_DIVERSITY_L):
    """Distinct l-diversity audit — the k-anonymity companion
    (k_anonymity_report, same QI ladder philosophy): k-anonymity
    bounds re-identification by class SIZE, but a class where every
    member shares one sensitive value (here c_mktsegment) leaks the
    attribute even at size >= k. Per QI level: class count, the
    minimum distinct-sensitive-value count over classes, classes
    below `l_min`, and rows in those homogeneous classes.

    QI ladder: 'nation+balance_band' (nation key + $2000 account-
    balance band over exact cents — BIGINT `div`, truncating like
    DuckDB `//` on the negative balances too) and generalized
    'nation'.

    Shape: per level one hash aggregate to (QI, sensitive) partials,
    one to QI classes (both map-side combined), one-row rollup each —
    exact integers throughout, no windows. Scale: |classes| rows.

    Reference parity: no privacy surface in the reference
    (main.py has none) — governance extension of SURVEY §2.6.
    """
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table

    cust = read_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment",
        F.expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) "
               "div 200000").alias("bal_band"))

    def level(name, cols):
        per_class = (
            cust.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_distinct("c_mktsegment").alias("l")))
        return per_class.agg(
            F.lit(name).alias("qi_level"),
            F.count(F.lit(1)).alias("n_classes"),
            F.min("l").cast("long").alias("min_l"),
            F.sum(F.when(F.col("l") < l_min, 1).otherwise(0))
            .cast("long").alias("n_homogeneous_classes"),
            F.sum(F.when(F.col("l") < l_min, F.col("n"))
                  .otherwise(F.lit(0)))
            .cast("long").alias("n_rows_at_risk"))

    return (level("nation+balance_band", ["c_nationkey", "bal_band"])
            .unionByName(level("nation", ["c_nationkey"]))
            .orderBy("qi_level"))


#: Laplace scale for the DP release demo: sensitivity 1 (a customer
#: appears in exactly one nation count), epsilon 1.0 -> b = 1.0.
DP_EPSILON_MILLI = 1000


def dp_noisy_nation_counts(spark, sf_dir: str,
                           epsilon_milli: int = DP_EPSILON_MILLI):
    """Differentially-private count release (epsilon-DP Laplace
    mechanism) over per-nation customer counts — the fourth pillar
    of the governance family (k-anonymity, l-diversity, erasure, and
    now a calibrated-noise release). Sensitivity is 1 (each customer
    contributes to exactly one nation), so noise ~ Laplace(1/eps)
    via the inverse CDF x = -b*sgn(u-1/2)*ln(1-2|u-1/2|).

    The per-group uniform is SEEDED AND PORTABLE — md5 of the nation
    key, first 8 hex chars as a 32-bit integer, (h+0.5)/2^32 — so
    the 'noise' is a pure deterministic function both engines
    compute bit-identically (the same construction the media
    fixtures use, functions/multimodal.py), making the release
    oracle-checkable. A production release swaps the hash-uniform
    for a real RNG and DROPS the true_count column carried here for
    the gate (the monthly_sales_retract recheck-column pattern).

    ln() determinism (ADVICE r7): ln is the one non-correctly-
    rounded op in this chain, but the released noise is a function
    of the nation KEY alone (0..24), so all 25 possible values are
    permanent constants — tests/test_stats_ops.py::
    test_dp_noise_quantization_boundary_margin proves each sits
    >= 1e-4 from its floor(noise*1e4) boundary, ~9 orders of
    magnitude beyond any cross-engine 1-ulp log wobble.

    Shape: one map-side-combined hash agg to |nations| rows; the
    noise math is per-group scalar arithmetic.
    """
    from pyspark.sql import functions as F

    from simpleetlpipeline_spark.io import read_table

    counts = (read_table(spark, sf_dir, "customer")
              .groupBy("c_nationkey")
              .agg(F.count(F.lit(1)).alias("true_count")))
    h = F.expr("conv(substring(md5(cast(c_nationkey as string)), 1, 8),"
               " 16, 10)").cast("long")
    u = (h.cast("double") + 0.5) / F.lit(4294967296.0)
    b = F.lit(1000.0) / F.lit(float(epsilon_milli))
    centered = u - 0.5
    noise = (-b * F.signum(centered)
             * F.log(1.0 - 2.0 * F.abs(centered)))
    return (counts.select(
        "c_nationkey", "true_count",
        (F.floor(noise * 1e4) / 1e4).alias("noise"),
        (F.col("true_count") + F.floor(noise * 1e4) / 1e4)
        .alias("noisy_count"))
        .orderBy("c_nationkey"))
