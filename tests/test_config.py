"""ETLConfig.from_yaml: ingest the reference's etl_config.yaml
verbatim and drive the pipeline + validation rules with it.

The YAML is DEAD in the reference (main.py:17 comments out the yaml
import; nothing reads it), so there is no loader behavior to match —
these tests pin the migration surface: a user holding that exact
file can construct the engine config from it.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from simpleetlpipeline_spark.pipeline import ETLConfig

REFERENCE_YAML = "/root/reference/etl_config.yaml"

needs_reference_yaml = pytest.mark.skipif(
    not os.path.exists(REFERENCE_YAML),
    reason="reference etl_config.yaml not present")


@needs_reference_yaml
def test_from_yaml_maps_reference_keys():
    cfg = ETLConfig.from_yaml(REFERENCE_YAML, warehouse_dir="/tmp/whx")
    assert cfg.warehouse_dir == "/tmp/whx"          # override wins
    assert cfg.parallel_tables == 4                 # etl.parallel_threads
    assert cfg.retention_days == 365                # etl.data_retention_days
    assert cfg.min_quality_score == 80.0            # data_quality.minimum_*
    assert cfg.money_tolerance == 0.01              # business_rules tolerance
    assert cfg.sample_sizes == {
        "customers": 2000, "products": 500, "orders": 1500}


def test_from_yaml_defaults_on_empty(tmp_path):
    p = tmp_path / "empty.yaml"
    p.write_text("# nothing\n")
    cfg = ETLConfig.from_yaml(str(p))
    assert cfg.parallel_tables == ETLConfig.parallel_tables


@needs_reference_yaml
def test_yaml_config_drives_full_pipeline(spark, tmp_path):
    """run_full_pipeline under the reference YAML's own settings
    (sample counts scaled 1/10 to keep the test fast — the parse is
    what's under test, not the volume)."""
    from simpleetlpipeline_spark.generator import table_builders
    from simpleetlpipeline_spark.io import write_csv
    from simpleetlpipeline_spark.pipeline import run_full_pipeline

    cfg = ETLConfig.from_yaml(
        REFERENCE_YAML, warehouse_dir=str(tmp_path / "wh"))
    n = {t: max(c // 10, 20) for t, c in cfg.sample_sizes.items()}
    src = str(tmp_path / "src")
    builders = table_builders(
        spark, n["customers"], n["products"], n["orders"])
    for table, df in builders.items():
        write_csv(df, os.path.join(src, f"{table}.csv"))

    metrics = run_full_pipeline(spark, src, cfg)
    assert metrics.failed_tables == 0
    assert metrics.successful_tables == 4
    assert metrics.records_processed > 0
    # the YAML's own quality floor should hold on clean generated data
    meta = spark.read.parquet(
        os.path.join(cfg.warehouse_dir, "etl_metadata"))
    low = meta.filter(
        F.col("data_quality_score") < cfg.min_quality_score).count()
    assert low == 0


@needs_reference_yaml
def test_yaml_tolerance_drives_validation_rules(spark, sf_dir):
    from simpleetlpipeline_spark.plans.analytics import validation_rules

    cfg = ETLConfig.from_yaml(REFERENCE_YAML)
    base = validation_rules(spark, sf_dir).collect()
    assert len(base) == 4, "gate shape must not change without config"
    with_cfg = {r["rule_name"]: r["violation_count"]
                for r in validation_rules(spark, sf_dir, cfg).collect()}
    assert len(with_cfg) == 5
    assert "total_mismatch" in with_cfg
    # testdata o_totalprice is NOT the recomputed net sum, so at the
    # YAML's 0.01 tolerance essentially every order mismatches — the
    # rule must actually be evaluating, not returning 0 by accident.
    assert with_cfg["total_mismatch"] > 0
