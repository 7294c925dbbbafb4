"""Catalog-level tests: every registered query runs at sf0.001 and
returns a stable schema; shape/invariant assertions per query.
The full value-level gate is the DuckDB oracle (tools/check_oracle.py
replicates the driver's t2)."""

from __future__ import annotations

import pytest

from simpleetlpipeline_spark.plans import catalog
from simpleetlpipeline_spark.plans.analytics import QUERIES


# Queries whose values are engine-specific by design (seeded RNG /
# hash families) — rows-only in the driver's gate, no SQL twin.
ROWS_ONLY: set[str] = set()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_and_matches_oracle_columns(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    rows = df.collect()
    assert len(rows) >= 0
    sql = catalog.ORACLE_SQL.get(name)
    assert sql is not None or name in ROWS_ONLY, \
        f"{name} is missing its oracle twin"


def test_top_products_shape(spark, sf_dir):
    df = QUERIES["top_products"](spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert df.columns == ["p_partkey", "p_name", "total_quantity_sold", "total_revenue"]
    revs = [r["total_revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_monthly_sales_ordered(spark, sf_dir):
    rows = QUERIES["monthly_sales"](spark, sf_dir).collect()
    months = [r["month"] for r in rows]
    assert months == sorted(months)
    assert all(len(m) == 7 and m[4] == "-" for m in months)


def test_customer_rollup_preserves_dimension(spark, sf_dir):
    """Invariant (SURVEY.md §5): the rollup LEFT JOIN must preserve
    the customer count and default missing groups to zero."""
    from simpleetlpipeline_spark.io import read_table

    out = QUERIES["customer_rollup"](spark, sf_dir)
    n_cust = read_table(spark, sf_dir, "customer").count()
    rows = out.collect()
    assert len(rows) == n_cust
    assert all(r["total_orders"] >= 0 and r["total_spent"] >= 0.0 for r in rows)
    assert any(r["total_orders"] == 0 for r in rows) or n_cust < 50


def test_quality_profile_score_bounds(spark, sf_dir):
    row = QUERIES["quality_profile"](spark, sf_dir).collect()[0]
    assert 0.0 <= row["quality_score"] <= 100.0
    assert row["row_count"] > 0
    assert row["column_count"] == 11


def test_validation_rules_report_only(spark, sf_dir):
    rows = {r["rule_name"]: r["violation_count"]
            for r in QUERIES["validation_rules"](spark, sf_dir).collect()}
    assert set(rows) == {"negative_acctbal", "nonpositive_quantity",
                         "discount_out_of_range", "ship_before_order"}
    assert all(v >= 0 for v in rows.values())


def test_sessionization_invariants(spark, sf_dir):
    rows = QUERIES["events_sessionization"](spark, sf_dir).collect()
    assert all(r["session_start_us"] <= r["session_end_us"] for r in rows)
    assert all(r["n_events"] >= 1 for r in rows)
    # session ids are dense per user starting at 1
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["session_id"])
    for sids in by_user.values():
        assert sorted(sids) == list(range(1, len(sids) + 1))


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert len(df.collect()) > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 13


def test_user_value_ewma_matches_explicit_recursion(spark, tmp_path,
                                                    monkeypatch):
    """applyInPandas EWMA == the textbook loop y = a*x + (1-a)*y,
    folded in (ts, event_id) order, per user."""
    import datetime as dt

    from simpleetlpipeline_spark.plans import advanced
    from simpleetlpipeline_spark.plans.advanced import user_value_ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 7: tied timestamps — event_id must break the tie
        (1, t0, 7, "view", 10.0, "{}"),
        (2, t0, 7, "view", 20.0, "{}"),
        (3, t0 + dt.timedelta(hours=1), 7, "view", 30.0, "{}"),
        # user 8: single event -> ewma == value
        (4, t0, 8, "view", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    monkeypatch.setattr(advanced, "EWMA_ALPHA", 0.5)
    out = {r["user_id"]: r for r in
           user_value_ewma(spark, str(tmp_path)).collect()}

    import math

    y = 10.0
    for x in (20.0, 30.0):
        y = 0.5 * x + 0.5 * y
    # published value is floored to cents (the hash-oracle contract)
    assert abs(out[7]["ewma_value"] - math.floor(y * 100) / 100) < 1e-12
    assert out[7]["n_events"] == 3 and out[7]["last_value"] == 30.0
    assert out[8]["ewma_value"] == 5.0 and out[8]["n_events"] == 1
