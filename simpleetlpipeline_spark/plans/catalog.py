"""Master query registry assembled from all catalogs.

__spark_entry__.py re-exports this. Every oracle-checked operator
appears in QUERIES with a matching ORACLE_SQL entry; genuinely
non-SQL-expressible operators (seeded SRP/SimHash projections,
stateful streaming, the driver-loop ETL run) appear in QUERIES only
(driver records a rows-only check). The exact-verified MinHash
family (dedup_minhash_lsh / dedup_clusters / corpus_curate_neardup)
graduated to hash oracles in round 11 — its output is the
ground-truth pair set whenever banding recall is perfect, which the
oracle recomputes and thereby attests (dedup._MINHASH_PAIRS_SQL).
"""

from __future__ import annotations

import functools

from simpleetlpipeline_spark.functions import (
    curation,
    dedup,
    multimodal,
    pretrain,
    similarity,
    sketches,
    text,
)
from simpleetlpipeline_spark import pipeline, sources
from simpleetlpipeline_spark.operators import erasure, scd
from simpleetlpipeline_spark.plans import (
    advanced,
    analytics,
    relational,
    subqueries,
)
from simpleetlpipeline_spark.session import ensure_session_conf
from simpleetlpipeline_spark.streaming import sinks as streaming_sinks
from simpleetlpipeline_spark.streaming import stateful as streaming_stateful
from simpleetlpipeline_spark.streaming import windows as streaming_windows

QUERIES = dict(analytics.QUERIES)
ORACLE_SQL = dict(analytics.ORACLE_SQL)

for _mod in (advanced, relational, subqueries, scd, erasure,
             text, dedup, similarity,
             multimodal,
             curation, pretrain, sources,
             sketches, streaming_windows, streaming_stateful,
             streaming_sinks):
    QUERIES.update(_mod.QUERIES)
    ORACLE_SQL.update(_mod.ORACLE_SQL)


QUERIES["etl_pipeline_run"] = pipeline.etl_pipeline_run  # hash-oracled round 11

# DuckDB replay of the full extract->transform->load chain from the
# source CSVs the Spark run just wrote (pipeline.ETL_ORACLE_SRC_DIR;
# Spark runs before the oracle in every harness). Per table:
# records_processed = raw CSV count, records_inserted = count after
# the reference transform chain (trim / all-null drop / email /
# positive / non-negative / ±0.01 tolerance filters, replayed with
# the SAME left-assoc double arithmetic so IEEE rounding matches
# bit-for-bit), records_failed = the difference, and
# data_quality_score = the reference formula
# round(max(0, (cells - nulls - dup_rows*ncols)/cells*100), 2) with
# nulls and duplicate rows recomputed from the transformed rows.
# Replaying from the CSVs keeps the oracle valid even though
# F.rand()-based generation varies with the session's partitioning.
# Single source of truth for the path is pipeline.ETL_ORACLE_SRC_DIR
# (per-user, deterministic across processes — the gate may run the
# Spark side and the DuckDB side in different interpreters).
_ETL_SRC = pipeline.ETL_ORACLE_SRC_DIR

_ETL_CSV_COLS = {
    "customers": {
        "customer_id": "BIGINT", "first_name": "VARCHAR",
        "last_name": "VARCHAR", "email": "VARCHAR", "phone": "VARCHAR",
        "registration_date": "DATE", "country": "VARCHAR",
        "city": "VARCHAR", "customer_segment": "VARCHAR",
        "total_orders": "INTEGER", "total_spent": "DOUBLE",
    },
    "products": {
        "product_id": "BIGINT", "product_name": "VARCHAR",
        "category": "VARCHAR", "subcategory": "VARCHAR",
        "brand": "VARCHAR", "unit_price": "DOUBLE",
        "cost_price": "DOUBLE", "stock_quantity": "INTEGER",
        "weight_kg": "DOUBLE", "supplier_id": "INTEGER",
        "is_active": "BOOLEAN",
    },
    "orders": {
        "order_id": "BIGINT", "customer_id": "BIGINT",
        "order_date": "DATE", "order_status": "VARCHAR",
        "shipping_method": "VARCHAR", "payment_method": "VARCHAR",
        "subtotal": "DOUBLE", "tax_amount": "DOUBLE",
        "shipping_cost": "DOUBLE", "discount_amount": "DOUBLE",
        "total_amount": "DOUBLE",
    },
    "order_items": {
        "item_id": "BIGINT", "order_id": "BIGINT",
        "product_id": "BIGINT", "quantity": "INTEGER",
        "unit_price": "DOUBLE", "discount_percent": "DOUBLE",
        "line_total": "DOUBLE",
    },
}


def _etl_read(table: str) -> str:
    cols = ", ".join(f"'{c}': '{t}'"
                     for c, t in _ETL_CSV_COLS[table].items())
    return (f"read_csv('{_ETL_SRC}/{table}.csv/*.csv', "
            f"header=true, columns={{{cols}}})")


def _etl_not_all_null(table: str) -> str:
    """F1 (drop rows where EVERY column is null) as a keep-predicate."""
    return "(" + " OR ".join(
        f"{c} IS NOT NULL" for c in _ETL_CSV_COLS[table]) + ")"


#: Transformed-row projections (the reference transform chains) and
#: their post-filter keep predicates, per table. trim() on string
#: columns mirrors P1; the projected values feed the duplicate-row
#: count so value transforms (country map, clamp, constants) must be
#: replayed, not just the filters.
_ETL_TRANSFORMED = {
    "customers": (
        """
        SELECT customer_id, trim(first_name) AS first_name,
               trim(last_name) AS last_name, trim(email) AS email,
               trim(phone) AS phone, registration_date,
               CASE trim(country)
                    WHEN 'US' THEN 'USA'
                    WHEN 'United States' THEN 'USA'
                    WHEN 'UK' THEN 'United Kingdom'
                    WHEN 'Britain' THEN 'United Kingdom'
                    ELSE trim(country) END AS country,
               trim(city) AS city,
               trim(customer_segment) AS customer_segment,
               CAST(0 AS INTEGER) AS total_orders,
               CAST(0.0 AS DOUBLE) AS total_spent
        """,
        "contains(trim(email), '@')",
    ),
    "products": (
        """
        SELECT product_id, trim(product_name) AS product_name,
               trim(category) AS category,
               trim(subcategory) AS subcategory,
               trim(brand) AS brand, unit_price, cost_price,
               greatest(0, stock_quantity) AS stock_quantity,
               weight_kg, supplier_id, is_active
        """,
        "unit_price > 0 AND cost_price > 0",
    ),
    "orders": (
        """
        SELECT order_id, customer_id, order_date,
               trim(order_status) AS order_status,
               trim(shipping_method) AS shipping_method,
               trim(payment_method) AS payment_method,
               subtotal, tax_amount, shipping_cost, discount_amount,
               total_amount
        """,
        "subtotal >= 0 AND tax_amount >= 0 AND shipping_cost >= 0"
        " AND total_amount >= 0"
        " AND abs(total_amount - (subtotal + tax_amount + shipping_cost"
        " - discount_amount)) < 0.01",
    ),
    "order_items": (
        """
        SELECT item_id, order_id, product_id, quantity, unit_price,
               discount_percent, line_total
        """,
        "quantity > 0 AND unit_price >= 0 AND line_total >= 0"
        " AND abs(line_total - quantity * unit_price"
        " * (1 - discount_percent / 100)) < 0.01",
    ),
}


def _etl_table_metrics(table: str) -> str:
    cols = list(_ETL_CSV_COLS[table])
    ncols = len(cols)
    proj, keep = _ETL_TRANSFORMED[table]
    nonnull_cells = " + ".join(f"count({c})" for c in cols)
    tuple_cols = ", ".join(cols)
    return f"""
        SELECT '{table}' AS table_name,
               (SELECT count(*) FROM {_etl_read(table)})
                   AS records_processed,
               count(*) AS records_inserted,
               (SELECT count(*) FROM {_etl_read(table)}) - count(*)
                   AS records_failed,
               CASE WHEN count(*) = 0 THEN 0.0
                    ELSE round(greatest(0.0,
                        (({nonnull_cells})
                         - (count(*) - count(DISTINCT ({tuple_cols})))
                           * {ncols})
                        / (count(*) * {ncols}) * 100), 2)
               END AS data_quality_score
        FROM (
            {proj}
            FROM {_etl_read(table)}
            WHERE {_etl_not_all_null(table)} AND ({keep})
        )
    """


ORACLE_SQL["etl_pipeline_run"] = " UNION ALL ".join(
    _etl_table_metrics(t) for t in _ETL_CSV_COLS)

from simpleetlpipeline_spark.operators.quality import (  # noqa: E402
    K_ANONYMITY_K,
    k_anonymity_report,
)

QUERIES["k_anonymity_report"] = k_anonymity_report
ORACLE_SQL["k_anonymity_report"] = f"""
    WITH l1 AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM customer GROUP BY 1, 2
    ), l2 AS (
        SELECT c_nationkey, count(*) AS n FROM customer GROUP BY 1
    ), r1 AS (
        SELECT 'nation+segment' AS qi_level,
               count(*) AS n_classes,
               CAST(min(n) AS BIGINT) AS min_class_size,
               CAST(sum(CASE WHEN n < {K_ANONYMITY_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violating_classes,
               CAST(sum(CASE WHEN n < {K_ANONYMITY_K} THEN n ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk
        FROM l1
    ), r2 AS (
        SELECT 'nation' AS qi_level,
               count(*) AS n_classes,
               CAST(min(n) AS BIGINT) AS min_class_size,
               CAST(sum(CASE WHEN n < {K_ANONYMITY_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violating_classes,
               CAST(sum(CASE WHEN n < {K_ANONYMITY_K} THEN n ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk
        FROM l2
    )
    SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY qi_level
"""

from simpleetlpipeline_spark.operators.quality import (  # noqa: E402
    L_DIVERSITY_L,
    l_diversity_report,
)

QUERIES["l_diversity_report"] = l_diversity_report
ORACLE_SQL["l_diversity_report"] = f"""
    WITH cust AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 200000 AS bal_band
        FROM customer
    ), l1 AS (
        SELECT c_nationkey, bal_band, count(*) AS n,
               count(DISTINCT c_mktsegment) AS l
        FROM cust GROUP BY 1, 2
    ), l2 AS (
        SELECT c_nationkey, count(*) AS n,
               count(DISTINCT c_mktsegment) AS l
        FROM cust GROUP BY 1
    ), r1 AS (
        SELECT 'nation+balance_band' AS qi_level,
               count(*) AS n_classes,
               CAST(min(l) AS BIGINT) AS min_l,
               CAST(sum(CASE WHEN l < {L_DIVERSITY_L} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_homogeneous_classes,
               CAST(sum(CASE WHEN l < {L_DIVERSITY_L} THEN n ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk
        FROM l1
    ), r2 AS (
        SELECT 'nation' AS qi_level,
               count(*) AS n_classes,
               CAST(min(l) AS BIGINT) AS min_l,
               CAST(sum(CASE WHEN l < {L_DIVERSITY_L} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_homogeneous_classes,
               CAST(sum(CASE WHEN l < {L_DIVERSITY_L} THEN n ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk
        FROM l2
    )
    SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY qi_level
"""

from simpleetlpipeline_spark.operators.quality import (  # noqa: E402
    DP_EPSILON_MILLI,
    dp_noisy_nation_counts,
)

QUERIES["dp_noisy_nation_counts"] = dp_noisy_nation_counts
ORACLE_SQL["dp_noisy_nation_counts"] = f"""
    WITH counts AS (
        SELECT c_nationkey, count(*) AS true_count
        FROM customer GROUP BY 1
    ), seeded AS (
        SELECT c_nationkey, true_count,
               (CAST(concat('0x', substr(md5(CAST(c_nationkey
                    AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                   / 4294967296.0 - 0.5 AS centered
        FROM counts
    ), noised AS (
        SELECT c_nationkey, true_count,
               floor((1000.0 / {DP_EPSILON_MILLI})
                     * -sign(centered) * ln(1.0 - 2.0 * abs(centered))
                     * 1e4) / 1e4 AS noise
        FROM seeded
    )
    SELECT c_nationkey, true_count, noise,
           true_count + noise AS noisy_count
    FROM noised
    ORDER BY c_nationkey
"""

from simpleetlpipeline_spark.operators.quality import (  # noqa: E402
    expectation_suite_report,
    table_stats_profile,
)

QUERIES["expectation_suite_report"] = expectation_suite_report
ORACLE_SQL["expectation_suite_report"] = """
    WITH o AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS f_null,
               CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
                    AS BIGINT) AS f_range,
               CAST(sum(CASE WHEN o_orderstatus IN ('P','O','F')
                             THEN 0 ELSE 1 END) AS BIGINT) AS f_vals,
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                   AS f_uniq
        FROM orders
    ), fk AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS f
        FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey
    )
    SELECT 'accepted_range__o_totalprice_gt_0' AS expectation,
           n AS n_checked, f_range AS n_failed, f_range = 0 AS passed
    FROM o
    UNION ALL
    SELECT 'accepted_values__o_orderstatus', n, f_vals, f_vals = 0
    FROM o
    UNION ALL
    SELECT 'not_null__o_custkey', n, f_null, f_null = 0 FROM o
    UNION ALL
    SELECT 'relationships__l_orderkey_in_orders', n, f, f = 0 FROM fk
    UNION ALL
    SELECT 'unique__o_orderkey', n, f_uniq, f_uniq = 0 FROM o
    ORDER BY expectation
"""

QUERIES["table_stats_profile"] = table_stats_profile
ORACLE_SQL["table_stats_profile"] = """
    WITH agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nn_o_orderkey,
               CAST(count(DISTINCT o_orderkey) AS BIGINT)
                   AS nd_o_orderkey,
               CAST(min(o_orderkey) AS VARCHAR) AS mn_o_orderkey,
               CAST(max(o_orderkey) AS VARCHAR) AS mx_o_orderkey,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nn_o_custkey,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_o_custkey,
               CAST(min(o_custkey) AS VARCHAR) AS mn_o_custkey,
               CAST(max(o_custkey) AS VARCHAR) AS mx_o_custkey,
               CAST(sum(CASE WHEN o_orderstatus IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS nn_o_orderstatus,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT)
                   AS nd_o_orderstatus,
               min(o_orderstatus) AS mn_o_orderstatus,
               max(o_orderstatus) AS mx_o_orderstatus,
               CAST(sum(CASE WHEN o_totalprice IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS nn_o_totalprice,
               CAST(count(DISTINCT CAST(floor(o_totalprice * 100)
                                        AS BIGINT)) AS BIGINT)
                   AS nd_o_totalprice,
               CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS VARCHAR) AS mn_o_totalprice,
               CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS VARCHAR) AS mx_o_totalprice,
               CAST(sum(CASE WHEN o_orderdate IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS nn_o_orderdate,
               CAST(count(DISTINCT epoch_us(o_orderdate)) AS BIGINT)
                   AS nd_o_orderdate,
               CAST(min(epoch_us(o_orderdate)) AS VARCHAR)
                   AS mn_o_orderdate,
               CAST(max(epoch_us(o_orderdate)) AS VARCHAR)
                   AS mx_o_orderdate,
               CAST(sum(length(o_orderstatus)) AS BIGINT) AS len_status
        FROM orders
    )
    SELECT 'o_custkey' AS column_name, n_rows, nn_o_custkey AS n_null,
           nd_o_custkey AS n_distinct, mn_o_custkey AS min_canonical,
           mx_o_custkey AS max_canonical,
           CAST(NULL AS BIGINT) AS avg_len_milli
    FROM agg
    UNION ALL
    SELECT 'o_orderdate', n_rows, nn_o_orderdate, nd_o_orderdate,
           mn_o_orderdate, mx_o_orderdate, CAST(NULL AS BIGINT)
    FROM agg
    UNION ALL
    SELECT 'o_orderkey', n_rows, nn_o_orderkey, nd_o_orderkey,
           mn_o_orderkey, mx_o_orderkey, CAST(NULL AS BIGINT)
    FROM agg
    UNION ALL
    SELECT 'o_orderstatus', n_rows, nn_o_orderstatus, nd_o_orderstatus,
           mn_o_orderstatus, mx_o_orderstatus,
           CAST(len_status * 1000 // (n_rows - nn_o_orderstatus)
                AS BIGINT)
    FROM agg
    UNION ALL
    SELECT 'o_totalprice', n_rows, nn_o_totalprice, nd_o_totalprice,
           mn_o_totalprice, mx_o_totalprice, CAST(NULL AS BIGINT)
    FROM agg
    ORDER BY column_name
"""

# The driver's correctness gate checks a bounded PREFIX of this dict
# (it stops at entry 50), so ordering is part of the contract.
# Three tiers:
#   1. GATE_PREFIX — 50 oracled entries pinned so the bounded window
#      checks a deliberate set instead of churning whenever a new
#      oracled query lands. Entries rotate in and out of it so every
#      catalog surface accrues driver-grade evidence; the per-wave
#      rotation history is in CHANGES.md.
#   2. remaining oracled entries — verified by the local gate replica
#      (tools/check_oracle.py at sf0.01 and sf0.1) and pytest; the
#      rotated-out tier-1 veterans live here with two rounds of
#      driver-grade history behind them.
#   3. rows-only family (seeded-hash LSH/SRP candidates, stateful
#      streaming, the driver-loop ETL run) — covered by pytest
#      (planted-cluster structure tests, recall-vs-exact tests).
GATE_PREFIX = (
    "date_axis_canary",
    "int128_fetch_probe",
    "cdc_latest_state",
    "user_erasure_audit",
    "hll_audience_overlap",
    "streaming_user_totals_stateful",
    "events_anomaly", "events_dedup_batch",
    "event_pattern_conversions",
    "monthly_seasonality_index",
    "semantic_dedup_clusters", "source_overlap_matrix",
    "bpe_merge_pairs", "ann_incremental_topk",
    "order_percentile_ranks", "revenue_attribution",
    "compaction_invariant",
    # Thirteenth-wave rotate-ins (round 12): the six round-11 oracle
    # promotions — the whole never-gated backlog — take the slots of
    # the six retiring 3-green veterans.
    "dedup_minhash_lsh", "dedup_clusters",
    "dedup_minhash_incremental", "corpus_curate_neardup",
    "kmeans_cluster_purity", "etl_pipeline_run",
    "basket_lift_rules", "bpe_train_merges",
    "categorical_entropy_profile", "copurchase_pairs",
    "dedup_shared_windows", "embedding_quantize",
    "language_sampling_weights", "media_decode_report",
    "negative_samples", "open_orders_timeline",
    "revenue_concentration", "source_mix_report",
    "surplus_stock_suppliers", "token_char_correlation",
    "top_events_per_user", "user_value_ewma",
    # Fourteenth-wave rotate-ins (round 13): the eleven rewritten
    # hash-oracled queries, in for re-attestation of changed code.
    "kmeans_assign", "pq_ann_topk",
    "zorder_layout_manifest", "quality_bins",
    "heavy_hitter_users", "streaming_totals_to_table",
    "ann_topk", "ann_ivf_topk",
    "embedding_neardup", "hybrid_rrf_search",
    "semantic_decontaminate",
)


def _order(name: str) -> tuple[int, int]:
    if name in GATE_PREFIX:
        return (0, GATE_PREFIX.index(name))
    return (1 if name in ORACLE_SQL else 2, 0)


def _pinned(fn):
    """Catalog entry that asserts the session profile on entry.

    ensure_session_conf is looked up in this module's globals at call
    time, so a harness that rebinds it here (the hostile-timezone
    test) reaches every entry."""
    @functools.wraps(fn)
    def entry(spark, sf_dir):
        ensure_session_conf(spark)
        return fn(spark, sf_dir)

    return entry


QUERIES = {
    name: _pinned(QUERIES[name])
    for name in sorted(QUERIES, key=_order)
}
