"""SparkSession construction and session-level tuning.

The reference tunes its engine with SQLite pragmas (WAL,
cache_size, temp_store — reference main.py:87-97); the Spark analog
is SparkConf. Settings here are chosen for correctness-critical
determinism (UTC session timezone so timestamp semantics match a
UTC-naive oracle) and for scale (AQE on, skew-join handling on,
shuffle partitions sized to the actual parallelism instead of the
200 default, which is wrong in both directions — too many for local
runs, too few at 100 TB where AQE coalescing takes over).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf applied to every session we build, and re-asserted (for the
#: runtime-settable subset) on sessions handed to us by a driver.
_RUNTIME_CONF = {
    # Deterministic timestamp semantics: parquet stores UTC instants;
    # render/bucket them in UTC so results match a UTC-naive oracle.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime re-plan (coalesce post-shuffle
    # partitions, convert to broadcast join when a side turns out
    # small, split skewed partitions). Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan (coalesce/skew-split) INSIDE persisted plans
    # too: off, every .persist() materializes with the static
    # partition count — the dedup pair cache landed as 106 near-empty
    # cached partitions that every downstream count/toPandas/groupBy
    # re-enumerated (round 12, guide §2.2). The historical risk the
    # default guards against (a reused cache changing its output
    # partitioning between consumers) doesn't bite this engine: no
    # consumer relies on a cache's physical partitioning, only on its
    # contents.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Prefer shuffled-hash over sort-merge where the planner's own
    # guards allow it (build side must fit canBuildLocalHashMap =
    # threshold x shuffle partitions; SHJ spills since Spark 3.2):
    # SMJ pays a full sort of BOTH sides, and on this catalog's
    # fact-fact joins the fact-side sort was the dominant cost —
    # measured at sf1: cf_holdout_hitrate 14.2s -> 3.3s,
    # supplier_efficiency_frontier 10.1s -> 3.5s, top_products
    # 3.3s -> 2.9s, with no query regressing (round-8 A/B). At
    # 100 TB the same guard holds per-partition: the build side of
    # an eligible join is per-partition-bounded by construction,
    # and ineligible joins still plan SMJ.
    "spark.sql.join.preferSortMergeJoin": "false",
    # The testdata events table's ts physical type varies by vintage:
    # TIMESTAMP(NANOS), which the vanilla parquet reader rejects —
    # read as epoch-nanos LONG and convert (io.read_table truncates
    # to micros, matching DuckDB) — or TIMESTAMP_NTZ micros. Surface
    # NTZ as plain TIMESTAMP (session-TZ=UTC keeps the wall-clock
    # identical to the oracle's naive reading); TIMESTAMP_NTZ would
    # otherwise break unix_micros, watermarks, and numeric casts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

#: LOCAL-MASTER-ONLY scan knobs (never applied to a cluster session —
#: round-9 ADVICE: the 128 MB default is right on a real cluster, so
#: baking these into the shared conf would hand every non-bench
#: deployment ~8x oversplit scans and object-store-hostile open
#: costs).
_LOCAL_SCAN_CONF = {
    # Scan-split size for the single-node profile: the default
    # 128 MB gives a 100 MB-scale local table exactly ONE scan task,
    # serializing every read on one of the 32 cores (measured round
    # 9: the whole sf1 ladder's worst "non-linear" ratios were this
    # fixture artifact, not plan defects — see README). 16 MB keeps
    # a 113 MB fact scan at ~8 parallel splits while leaving
    # kB-scale dims at one split. Splits can only land on parquet
    # row-group boundaries, so it composes with writers that emit
    # row groups smaller than the split size (tools/make_sf1.py
    # writes 8 MB blocks for exactly this reason).
    "spark.sql.files.maxPartitionBytes": str(16 << 20),
    # Companion knob: openCostInBytes models per-file open latency
    # when packing many small files into one scan split. The 4 MB
    # default is an object-store number; against the 16 MB split
    # size above it caps packing at ~4 files per task, which turned
    # the binaryFile ingest scan (media_ingest_rollup: thousands of
    # kB-scale files) into thousands of near-empty tasks. 64 KB
    # reflects a local FS open and keeps small-file packing dense.
    "spark.sql.files.openCostInBytes": str(64 << 10),
}


def _runtime_conf(local: bool = True) -> dict[str, str]:
    conf = dict(_RUNTIME_CONF)
    if local:
        conf.update(_LOCAL_SCAN_CONF)
    # Shuffle (and streaming state-store) partition count sized to the
    # actual parallelism instead of the 200 default — also applied to
    # externally-built sessions, where stateful streaming would
    # otherwise run 200 state tasks per micro-batch.
    conf["spark.sql.shuffle.partitions"] = str(default_parallelism())
    return conf


def default_parallelism() -> int:
    """Worker-thread count for local mode (driver contract: 32)."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def get_spark(app_name: str = "simpleetlpipeline-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    shuffle_partitions defaults to the core count: at local test
    scale the 200 default only adds scheduling overhead; on a real
    cluster this knob would be set to ~2-3x total cores and AQE
    coalesces it down per-stage.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or cpus))
        # Local mode packs driver + all executor threads into ONE JVM
        # whose default heap is 1g — 32 concurrent tasks moving Arrow
        # batches starve the GC there (observed: GCLocker retry
        # failures killing executor threads at 10x testdata scale).
        # 8g = 0.25g/core: measured A/B at sf0.1, 1g/4g/8g are within
        # run-to-run noise of each other while 24g pays ~15-35% on
        # short queries (cold heap pages + GC shape), so 8g buys the
        # 10x-scale headroom for free. Launch-time-only conf — it
        # applies when this builder creates the JVM (bench, tests,
        # tools); an externally built session keeps its own sizing.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        # Keep stdout clean: the bench driver parses the LAST line of
        # stdout as JSON from a bounded tail window; stage-progress
        # \r-bars can push it out of the window.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in _runtime_conf().items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions",
                             str(shuffle_partitions or cpus))
    return builder.getOrCreate()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-UDF / mapInPandas closures that reference module-level
    helpers are cloudpickled BY REFERENCE (module.qualname), so the
    worker process must be able to import simpleetlpipeline_spark.
    Workers do NOT inherit the driver's sys.path — an external driver
    running from another cwd would hit ModuleNotFoundError mid-task.
    Shipping a zip via addPyFile fixes every such closure at once
    (and is exactly what a real cluster deployment does).
    """
    if getattr(spark, "_setl_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        "/tmp", f"simpleetlpipeline_spark_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Connect session without addPyFile; driver-side only
    spark._setl_pkg_shipped = True


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Assert runtime-settable conf on an externally-built session.

    The correctness driver hands us its own SparkSession; timezone
    and AQE flags are runtime-mutable, so pin them for deterministic
    query semantics. The local-only scan knobs (_LOCAL_SCAN_CONF)
    are applied ONLY when the session's master is local[*] — a
    cluster session keeps Spark's 128 MB/4 MB defaults, which are
    correct for HDFS/S3-backed multi-file tables. The shuffle
    partition count is set only when the session left it unset: an
    explicit count (builder or conf.set) is the caller's choice, and
    the hostile-partitioning sweep depends on it holding. Also ships
    this package to executor workers (see _ship_package).

    The one caller is the catalog: every plans.catalog.QUERIES entry
    pins on entry. Module functions called directly assume a
    get_spark() session; pass a foreign session through here once
    before calling them.
    """
    try:
        master = spark.conf.get("spark.master", "") or ""
    except Exception:
        master = ""
    for k, v in _runtime_conf(local=master.startswith("local")).items():
        try:
            if (k == "spark.sql.shuffle.partitions"
                    and spark.conf.get(k, None) is not None):
                continue
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on this build; best effort
    _ship_package(spark)
    return spark
