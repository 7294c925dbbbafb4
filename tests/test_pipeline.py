"""End-to-end pipeline tests: generator -> extract/transform/load ->
lineage metadata -> rollup -> monitoring, plus the failure-isolation
and products-bug-fix contracts from SURVEY.md §3."""

from __future__ import annotations

import os

import pytest

from simpleetlpipeline_spark import generator, pipeline
from simpleetlpipeline_spark.operators import transforms


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    td = tmp_path_factory.mktemp("etl")
    src = str(td / "src")
    cfg = pipeline.ETLConfig(warehouse_dir=str(td / "wh"))
    generator.generate_sample_data(
        spark, src, n_customers=400, n_products=120, n_orders=300)
    metrics = pipeline.run_full_pipeline(spark, src, cfg)
    return spark, cfg, metrics


def test_all_tables_load(run):
    _, _, metrics = run
    assert metrics.successful_tables == 4
    assert metrics.failed_tables == 0
    assert metrics.records_processed > 0
    assert metrics.records_per_second > 0


def test_products_table_not_empty(run):
    """The reference silently loaded 0 products (profit_margin not in
    DDL, SURVEY.md §3). The target-schema projection must fix it."""
    spark, cfg, _ = run
    products = spark.read.parquet(os.path.join(cfg.warehouse_dir, "products"))
    assert products.count() > 0
    assert "profit_margin" not in products.columns


def test_tolerance_filters_drop_rows(run):
    """The seeded generator plants inconsistent totals; the ±0.01
    tolerance filters must drop a nonzero fraction (reference
    verified behavior: 216/1500 orders, 1879/4474 items)."""
    spark, cfg, metrics = run
    assert metrics.records_inserted < metrics.records_processed
    orders = spark.read.parquet(os.path.join(cfg.warehouse_dir, "orders"))
    assert 0 < orders.count() < 300


def test_metadata_lineage(run):
    spark, cfg, _ = run
    meta = spark.read.parquet(os.path.join(cfg.warehouse_dir, "etl_metadata"))
    rows = {r["table_name"]: r for r in meta.collect()}
    assert set(rows) == {"customers", "products", "orders", "order_items"}
    for r in rows.values():
        assert r["records_inserted"] <= r["records_processed"]
        assert r["records_failed"] == r["records_processed"] - r["records_inserted"]
        assert 0.0 <= r["data_quality_score"] <= 100.0
        assert len(r["checksum"]) == 16
        assert r["etl_timestamp"] is not None


def test_rollup_enriched_customers(run):
    spark, cfg, _ = run
    enriched = spark.read.parquet(
        os.path.join(cfg.warehouse_dir, "customers_enriched"))
    customers = spark.read.parquet(os.path.join(cfg.warehouse_dir, "customers"))
    assert enriched.count() == customers.count()
    agg = enriched.selectExpr(
        "sum(total_orders) s", "min(total_spent) m").first()
    assert agg["s"] > 0 and agg["m"] >= 0.0


def test_monitoring_surfaces(run):
    spark, cfg, _ = run
    qs = {r["table_name"]: r for r in
          pipeline.quality_summary(spark, cfg).collect()}
    assert len(qs) == 4
    status = pipeline.pipeline_status(spark, cfg)
    assert status["health"] in {"healthy", "degraded"}
    assert status["loads_24h"] == 4
    stats = pipeline.analyze_tables(spark, cfg)
    assert set(stats) == {"customers", "products", "orders", "order_items"}
    # ANALYZE TABLE must land real catalog statistics for the CBO
    meta = spark.read.parquet(os.path.join(cfg.warehouse_dir, "etl_metadata"))
    inserted = {r["table_name"]: r["records_inserted"]
                for r in meta.collect()}
    for table, s in stats.items():
        assert s["size_bytes"] > 0
        assert s["row_count"] == inserted[table]
    # and the dashboard surfaces them once analyzed
    status2 = pipeline.pipeline_status(spark, cfg)
    assert status2["table_stats"]["orders"]["row_count"] == inserted["orders"]
    # data-driven optimizer advice derives from those stats
    tips = pipeline.suggest_optimizations(spark, cfg)
    assert tips and any("broadcast" in t for t in tips)


def test_health_reads_configured_quality_floor(run):
    """pipeline_status derives health from ETLConfig.min_quality_score
    (YAML data_quality.minimum_quality_score): no average quality
    score reaches a floor above 100, and every one clears a floor
    of 0."""
    spark, cfg, _ = run
    strict = pipeline.ETLConfig(warehouse_dir=cfg.warehouse_dir,
                                min_quality_score=101.0)
    assert pipeline.pipeline_status(spark, strict)["health"] == "degraded"
    lax = pipeline.ETLConfig(warehouse_dir=cfg.warehouse_dir,
                             min_quality_score=0.0)
    assert pipeline.pipeline_status(spark, lax)["health"] == "healthy"


def test_failure_isolation(spark, tmp_path, monkeypatch):
    """A poisoned transform must fail its table only; the loop
    continues and other tables load (reference main.py:593-596)."""
    src = str(tmp_path / "src")
    cfg = pipeline.ETLConfig(warehouse_dir=str(tmp_path / "wh"))
    generator.generate_sample_data(
        spark, src, n_customers=50, n_products=20, n_orders=40)

    def boom(df):
        raise RuntimeError("poisoned transform")

    monkeypatch.setitem(transforms.TRANSFORM_DISPATCH, "products", boom)
    metrics = pipeline.run_full_pipeline(spark, src, cfg)
    assert metrics.failed_tables == 1
    assert metrics.successful_tables == 3
    assert "products" in metrics.errors
    # rollup still ran: customers and orders both loaded
    assert os.path.exists(os.path.join(cfg.warehouse_dir, "customers_enriched"))


def test_etl_run_failure_leaves_no_scratch_dir(spark, tmp_path, monkeypatch):
    """A failed catalog ETL run raises and still removes its scratch
    warehouse (io.scratch_rows_df owns the dir)."""
    import tempfile

    def boom(df):
        raise RuntimeError("poisoned transform")

    monkeypatch.setitem(transforms.TRANSFORM_DISPATCH, "products", boom)
    monkeypatch.setattr(pipeline, "ETL_ORACLE_SRC_DIR",
                        str(tmp_path / "src" / "current"))
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    with pytest.raises(RuntimeError, match="pipeline failures"):
        pipeline.etl_pipeline_run(spark, "sf0.0002")
    assert not list(scratch.glob("etl_run_*"))


def test_missing_source_isolated(spark, tmp_path):
    """Missing CSVs must not raise out of the pipeline loop."""
    cfg = pipeline.ETLConfig(warehouse_dir=str(tmp_path / "wh"))
    metrics = pipeline.run_full_pipeline(spark, str(tmp_path / "nosrc"), cfg)
    assert metrics.failed_tables == 4
    assert metrics.successful_tables == 0


def test_observed_profile_matches_check_data_quality(spark):
    """The observe()-riding profile (load_table's path) must produce
    the same score/hash/nulls as the standalone one-shot profile."""
    from pyspark.sql import Observation

    from simpleetlpipeline_spark.operators.quality import (
        check_data_quality,
        distinct_row_count,
        quality_observe_exprs,
        report_from_observation,
    )

    df = spark.createDataFrame(
        [(1, "a", None), (1, "a", None), (2, None, 5.0), (3, "c", 7.0)],
        "k long, s string, v double")
    obs = Observation()
    observed = df.observe(obs, *quality_observe_exprs(df.columns))
    observed.write.format("noop").mode("overwrite").save()
    dup = obs.get["__rows"] - distinct_row_count(df)
    got = report_from_observation(obs.get, df.columns, "t", dup)
    want = check_data_quality(df, "t", with_content_hash=True)
    assert got.row_count == want.row_count == 4
    assert got.duplicate_rows == want.duplicate_rows == 1
    assert got.null_counts == want.null_counts
    assert got.quality_score == want.quality_score
    assert got.content_hash == want.content_hash


def test_generator_consistency_fractions(spark):
    """Regression guard for the round-11 rand-stream desync bug:
    derived columns (tax, consistent/broken totals, line totals)
    must be computed from the SAME draw their published siblings
    carry. When a copy of a shared F.rand() expression sits inside a
    when() branch it advances only on rows where the branch is
    taken, desyncing the streams — which collapsed the
    tolerance-passing fraction from the intended ~85%/~72% to ~0.2%.
    The bands below fail on any desync (which drives the fraction
    toward the branch base rates) while staying loose enough for
    partitioning-induced variation (F.rand depends on the
    partitioning of spark.range, so exact counts are NOT stable —
    fractions under two different partitionings are asserted).

    The partitioning is varied at the SOURCE (spark.range
    num_partitions), not by a repartition() above the draws: an
    exchange over the finished projections replays identical
    per-partition rand streams and would assert the same data
    twice (round-11 advice)."""
    for nparts in (None, 3):
        orders = generator.gen_orders(spark, 4000, 5000,
                                      num_partitions=nparts)
        items = generator.gen_order_items(spark, 4000, 1000,
                                          num_partitions=nparts)
        o_frac = transforms.transform_orders(orders).count() / 4000
        n_items = items.count()
        i_frac = transforms.transform_order_items(items).count() / n_items
        assert 0.78 <= o_frac <= 0.92, o_frac
        assert 0.55 <= i_frac <= 0.88, i_frac
