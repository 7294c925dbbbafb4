"""Readers / writers (SURVEY.md §2.1 S1-S4, S8).

Reference equivalents: pd.read_csv (main.py:377-400), df.to_csv
(main.py:246-261), df.to_sql batched append (main.py:501-558),
pd.read_sql_query (main.py:648 etc.).

Spark disposition: CSV and Parquet readers always take an explicit
schema (no inferSchema pass over 100 TB); the relational sink is an
append-mode parquet write — Spark writes one file per partition, so
the reference's 1000-row insert batching (main.py:26,518-530) is
subsumed by partitioning. All sinks keep data distributed; nothing
funnels through the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from simpleetlpipeline_spark.cache import file_stamp, shared, track
from simpleetlpipeline_spark.schemas import TESTDATA_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class EmptySourceError(ValueError):
    """Raised when a source exists but holds no rows.

    Mirrors reference extract_data's empty-file guard
    (main.py:390-395) without a count() action on the happy path —
    callers that need the guard pay one isEmpty() probe (cheap: it
    stops at the first non-empty partition).
    """


def read_csv(spark: SparkSession, path: str, schema: StructType,
             check_empty: bool = False) -> DataFrame:
    """CSV scan with declared schema (S1; reference main.py:377-400)."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"Source file not found: {path}")
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    if check_empty and df.isEmpty():
        raise EmptySourceError(f"Source file is empty: {path}")
    return df


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (S2; reference main.py:246-261)."""
    df.write.mode(mode).option("header", True).csv(path)


def read_csv_with_rejects(spark: SparkSession, path: str,
                          schema: StructType) -> tuple[DataFrame, DataFrame]:
    """CSV scan that CAPTURES malformed rows instead of silently
    nulling (PERMISSIVE default) or dropping (DROPMALFORMED) them —
    the quarantine pattern a production ingest needs: good rows flow
    on, bad raw lines land in a reject table with the source path for
    triage. The reference's only failure mode is raising on a missing
    or empty file (extract_data, main.py:390-398); row-level
    corruption passes through pandas' inference silently.

    Returns (good_rows, rejects). One parse pass: the corrupt-record
    column rides the scan, and the split is two filters over the
    cached parse (Spark requires the parsed input cached before
    filtering on the corrupt column alone — the parser only populates
    it for rows it actually failed, so an uncached re-read could
    re-parse differently).
    """
    if not os.path.exists(path):
        raise FileNotFoundError(f"Source file not found: {path}")
    with_corrupt = StructType(
        [*schema.fields,
         StructField("_corrupt_record", StringType(), True)])
    # track(): the cache must outlive this function (both returned
    # frames read it lazily), so the registry owns its release —
    # repeated ingests no longer pin executor storage for the session.
    parsed = track(
        spark.read.schema(with_corrupt)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()
    )
    good = (parsed.filter(F.col("_corrupt_record").isNull())
            .drop("_corrupt_record"))
    rejects = (parsed.filter(F.col("_corrupt_record").isNotNull())
               .select(F.lit(path).alias("source_file"),
                       F.col("_corrupt_record").alias("raw_line")))
    return good, rejects


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a too-coarse scan across every core before a CPU-heavy
    per-row kernel (shingle hashing, minhash/simhash folds, cosine
    scoring, mapInPandas decode).

    Parquet splits on row groups, so a small single-file table arrives
    as ONE partition and everything upstream of the first shuffle runs
    serially — measured 5-12x wall-clock on the quadratic/per-doc
    kernels at sf0.1. At real scale the scan already carries at least
    defaultParallelism splits and this is a no-op; the guard matters
    because an unconditional repartition would be a full shuffle of
    the corpus.

    The split COUNT alone is not evidence of spread (round-9 bug):
    file-source byte-range splits land wherever maxPartitionBytes /
    openCostInBytes put them, but a parquet task only reads row
    groups whose START falls in its range — a small file with one
    row group can arrive as 32 "splits" of which 31 are EMPTY, and
    every mapInPandas/HOF kernel downstream silently runs on one
    core (measured: the whole text/media family went serial at sf1
    under openCostInBytes=64K). So a scan also counts as coarse
    when its splits are paper-thin: under ~1 MB of input bytes per
    split there cannot be a row group per split, and the frame is
    tiny enough that one extra round-robin shuffle is noise.

    Counter-guard (round-9 ADVICE): the empty-split pathology only
    arises when a single file is sliced into multiple byte-range
    splits (splits read only row groups whose START they contain).
    When the scan has at least as many FILES as splits, each split
    holds >= 1 whole file and cannot be empty — many genuinely tiny
    files already spread fine, so skip the extra shuffle there.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    parts = df.rdd.getNumPartitions()
    if parts < target:
        return df.repartition(target)
    try:
        from urllib.parse import urlparse

        files = df.inputFiles()
        n_bytes = sum(
            os.path.getsize(urlparse(f).path) for f in files)
    except OSError:
        return df
    if n_bytes and n_bytes < parts << 20 and len(files) < parts:
        return df.repartition(target)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver testdata table with the DECLARED
    schema: passing the StructType skips the footer-inference job
    Spark otherwise runs on every fresh read (one less job per scan;
    at 100 TB, no listing+footer pass before the real work).

    The events table's ts physical type varies by testdata vintage:
    TIMESTAMP(NANOS) (read as epoch-nanos LONG under
    spark.sql.legacy.parquet.nanosAsLong, set in session conf) or a
    plain microsecond TIMESTAMP. Probe the footer type once per
    (sf_dir, name) and truncate nanos to microseconds exactly as
    DuckDB/Arrow do so both engines see identical instants; a micros
    file passes through untouched.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = TESTDATA_SCHEMAS.get(name)
    if schema is not None:
        if name == "events":
            ts_type = _events_ts_type(spark, path)
            schema = StructType([
                StructField("ts", ts_type) if f.name == "ts" else f
                for f in schema.fields
            ])
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _events_ts_type(spark: SparkSession, path: str):
    """Footer probe: the declared-schema fast path must declare the
    type the file actually carries, or Spark silently misreads the
    column (a LONG schema over a micros TIMESTAMP file yields raw
    micros ints that the nanos->micros truncation then shrinks 1000x).
    One footer read per file version: the shared key carries the
    file's stamp, so an in-place regeneration with a different
    physical type re-probes.

    TIMESTAMP_NTZ is normalized to TIMESTAMP here: if the session's
    inferTimestampNTZ=false conf didn't take (the catalog's session
    pin is best-effort on externally-built sessions), the probe would
    otherwise leak NTZ into the declared schema and break
    unix_micros/watermark/numeric-cast paths downstream. Under the
    UTC session timezone the wall-clock values are identical.
    """
    def probe():
        probed = spark.read.parquet(path).schema["ts"].dataType
        if isinstance(probed, TimestampNTZType):
            probed = TimestampType()
        return probed

    return shared(spark, ("events_ts_type", file_stamp(path)), probe)


def register_views(spark: SparkSession, sf_dir: str,
                   tables: list[str] | None = None) -> dict[str, DataFrame]:
    """Register testdata tables as temp views for spark.sql access.

    The reference's SQL entry point hands raw SQL to SQLite
    (main.py:648 etc.); here the same strings (modulo dialect) go to
    spark.sql over these views and Catalyst does the parse → analyze
    → optimize → physical-plan work SQLite did.
    """
    out: dict[str, DataFrame] = {}
    for name in tables or list(TESTDATA_SCHEMAS):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_json(spark: SparkSession, path: str, schema: StructType,
              multiline: bool = False) -> DataFrame:
    """JSON-lines scan with declared schema (no sampling inference
    pass). The reference is CSV-only; JSON is the other interchange
    format a drop-in engine needs."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"Source file not found: {path}")
    return (
        spark.read.schema(schema)
        .option("multiLine", multiline)
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink; one file per partition like every Spark sink."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str,
             schema: StructType | None = None) -> DataFrame:
    """ORC scan (declared schema when given — same no-inference rule
    as every other reader here). ORC is the other columnar format a
    drop-in engine meets in the wild (Hive-era warehouses); Spark's
    reader gives it the same pushdown/pruning treatment as parquet.
    """
    if not os.path.exists(path):
        raise FileNotFoundError(f"Source file not found: {path}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink; one file per partition like every Spark sink."""
    df.write.mode(mode).orc(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: merge the schemas of EVERY file in the
    table (mergeSchema) so rows written before a column existed read
    as null instead of silently dropping the new column (the default
    reader takes one footer's schema — whichever file it samples).

    The explicit opt-in matters at 100 TB: mergeSchema reads every
    footer, so it belongs on evolving append tables, not hot-path
    scans of stable ones (declare the superset schema there instead).
    """
    return spark.read.option("mergeSchema", True).parquet(path)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """SQL query source (S4; reference pd.read_sql_query main.py:648):
    register the testdata tables as views and hand the string to
    Catalyst — the parse/plan/execute stack the reference delegated
    to SQLite."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """Hive-style partitioned parquet sink (`path/col=value/...`).

    The other half of the reference's secondary-index intent (S6)
    besides bucketing: a predicate on the partition column prunes
    entire directories BEFORE any file is opened — at 100 TB the
    difference between scanning a day and scanning a decade. Shows up
    in `.explain` as PartitionFilters (guarded in
    tests/test_plans.py); high-cardinality keys do NOT belong here
    (one directory per value — date/region/source are right, user_id
    is wrong; bucket those instead).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table_name: str, bucket_col: str,
                   n_buckets: int = 16, sort_col: str | None = None) -> None:
    """Bucketed catalog-table sink: co-locates rows by hash(bucket_col)
    at WRITE time so later equi-joins/aggregations on that key run
    with zero exchange — the standard answer to 'this fact-fact join
    shuffles 100 TB every night'. (The reference's secondary indexes
    S6 have no Spark analog; bucketing is the closest intent match:
    pre-paid data organization that query plans exploit.)
    """
    writer = df.write.mode("overwrite").format("parquet")
    writer = writer.bucketBy(n_buckets, bucket_col)
    writer = writer.sortBy(sort_col or bucket_col)
    writer.saveAsTable(table_name)


def write_table_version(df: DataFrame, table_root: str,
                        keep_versions: int = 2,
                        commit_meta: dict | None = None) -> str:
    """Atomic table publish via version-directory + pointer swap.

    A plain .mode('overwrite') deletes the old files before the new
    ones land, so a concurrent reader mid-overwrite sees a missing or
    half-written table. This sink is the minimal form of the
    Delta/Iceberg commit protocol: write the full new snapshot to a
    fresh `v=<n>` directory, then commit by atomically replacing the
    one-line `_CURRENT` pointer file (os.replace — atomic on POSIX;
    on an object store the same role is played by the metastore or a
    conditional-put manifest). Readers resolve the pointer first and
    only ever see complete snapshots; previous versions remain
    readable (time travel) until pruned down to `keep_versions`.

    commit_meta, when given, is written as `_META.json` INSIDE the
    version directory BEFORE the pointer swap — so it commits
    atomically with the data (underscore files are invisible to
    Spark's parquet reader). This is how a writer makes retried
    commits idempotent: stamp the batch/job id into the snapshot and
    check the current snapshot's stamp before re-applying (see
    streaming.sinks.streaming_totals_to_table).

    Returns the committed version directory path.
    """
    import json

    os.makedirs(table_root, exist_ok=True)
    existing = sorted(
        int(d[2:]) for d in os.listdir(table_root)
        if d.startswith("v=") and d[2:].isdigit())
    version = (existing[-1] + 1) if existing else 1
    vdir = os.path.join(table_root, f"v={version}")
    df.write.mode("errorifexists").parquet(vdir)
    if commit_meta is not None:
        with open(os.path.join(vdir, "_META.json"), "w") as fh:
            json.dump(commit_meta, fh)

    pointer, tmp = (os.path.join(table_root, n)
                    for n in ("_CURRENT", "_CURRENT.tmp"))
    with open(tmp, "w") as fh:
        fh.write(f"v={version}\n")
    os.replace(tmp, pointer)  # the commit point

    import shutil
    for old in existing[:max(0, len(existing) + 1 - keep_versions)]:
        shutil.rmtree(os.path.join(table_root, f"v={old}"),
                      ignore_errors=True)
    return vdir


def read_table_version(spark: SparkSession, table_root: str,
                       version: int | None = None,
                       schema: StructType | None = None) -> DataFrame:
    """Read the committed (or an explicit historical) table version.

    Pass `schema` when the caller already holds it (e.g. it just
    wrote the snapshot): a bare parquet read on a fresh path runs a
    footer-inference job first.
    """
    if version is None:
        with open(os.path.join(table_root, "_CURRENT")) as fh:
            vname = fh.read().strip()
    else:
        vname = f"v={version}"
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(os.path.join(table_root, vname))


def read_version_meta(table_root: str) -> dict | None:
    """The commit_meta stamped into the CURRENT version, or None if
    the table doesn't exist / carries no stamp."""
    import json

    pointer = os.path.join(table_root, "_CURRENT")
    if not os.path.exists(pointer):
        return None
    with open(pointer) as fh:
        vname = fh.read().strip()
    meta_path = os.path.join(table_root, vname, "_META.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as fh:
        return json.load(fh)


def merge_upsert(spark: SparkSession, table_root: str, updates: DataFrame,
                 key_cols: list[str]) -> str:
    """MERGE/upsert by key onto a versioned table: rows matching an
    update key are replaced, new keys are inserted, everything else
    carries over. Commits through write_table_version, so readers
    atomically flip from the old snapshot to the new one.

    The reference's only write mode is blind append (to_sql
    main.py:518-530); an incremental pipeline needs upsert. Spark-
    first shape: ONE left-anti shuffle of current⟕updates on the key
    plus a union — no driver materialization, no per-row lookups.
    (Delta/Iceberg MERGE additionally prunes untouched files; with
    plain parquet snapshots the rewrite is the whole table, which is
    the honest cost of format-free storage — partition the table and
    merge per-partition when updates are localized.)
    """
    current = read_table_version(spark, table_root)
    kept = current.join(updates.select(*key_cols).distinct(),
                        key_cols, "left_anti")
    merged = kept.unionByName(updates.select(*current.columns))
    return write_table_version(merged, table_root)


def compact_table(spark: SparkSession, table_path: str,
                  target_mb: int = 128) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet table into
    ~target_mb-sized files via a versioned snapshot commit.

    Append-heavy tables (etl_metadata's one-file-per-load rows, any
    per-micro-batch sink) accumulate small files until listing and
    scan-task scheduling dominate query time — the classic 100 TB
    operational chore. Rewrite = one round-robin repartition to
    ceil(bytes/target) tasks (no key skew possible), committed
    through write_table_version's atomic pointer swap so readers flip
    snapshots mid-compaction safely.

    Returns (files_before, files_after). The table_path keeps serving
    reads from the OLD files until the caller republishes it; callers
    on the versioned protocol (read_table_version) see the swap
    atomically.
    """
    import glob
    import math

    files = [f for f in glob.glob(os.path.join(table_path, "**", "*.parquet"),
                                  recursive=True)
             + glob.glob(os.path.join(table_path, "*.parquet"))
             if os.path.isfile(f)]
    files = sorted(set(files))
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / (target_mb << 20)))
    df = spark.read.parquet(table_path)
    write_table_version(df.repartition(n_out), table_path + "_compacted")
    return len(files), n_out


def driver_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Re-enter a SMALL driver-held result as a DataFrame via
    pandas/Arrow (round 13, guide §6): `createDataFrame(list)`
    parallelizes one pickled RDD slice per core — a 32-task job
    (~0.3-0.5s warm, ~1.5s cold) to ship a handful of rows. Several
    catalog entries materialize a tiny result driver-side so a
    scratch warehouse can be deleted; this is their shared re-entry.

    `rows` are pyspark Rows or plain tuples (positional access);
    `schema` is a StructType or DDL string. Flat scalar schemas only
    — exactly what the call sites produce.
    """
    import pandas as pd
    from pyspark.sql.types import StructType as _St

    if isinstance(schema, str):
        schema = _St.fromDDL(schema)
    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame(
        {n: [r[i] for r in rows] for i, n in enumerate(names)},
        columns=names)
    return spark.createDataFrame(pdf, schema)


def append_table(df: DataFrame, table_path: str) -> None:
    """Relational-table append sink (S3; reference main.py:501-558).

    Parquet append; each task writes its partition as one file —
    the distributed analog of the reference's 1000-row batched
    executemany. For JDBC parity a caller would instead use
    .format('jdbc').option('batchsize', 1000).
    """
    df.write.mode("append").parquet(table_path)


def overwrite_partitions_dynamic(df: DataFrame, path: str,
                                 partition_cols: list[str]) -> None:
    """Incremental partition reload: overwrite ONLY the partitions
    present in `df`, leaving sibling partitions untouched (the
    daily-restatement pattern). The default overwrite is STATIC —
    it deletes the whole table root before writing, which at 100 TB
    turns a one-day restatement into a full-table rewrite plus a
    reader-visible hole. The mode is set as a WRITER option, not
    session conf, so concurrent writers keep their own semantics."""
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_cols)
       .parquet(path))


def build_cached_fixture_dir(name: str, source_path: str,
                             build_fn) -> str:
    """Build-once cached fixture directory derived from a source
    table file/dir, shared by the media-ingest and JSONL-log
    fixtures (one implementation of the stage/replace/marker dance).

    The cache key is `name` + a FINGERPRINT of the source (absolute
    path, total bytes, newest mtime) — not just the sf_dir basename,
    so a regenerated source (e.g. a make_sf1.py re-run with changed
    contents) or a different corpus sharing a directory name
    REBUILDS instead of silently serving a stale fixture to the
    gate. The build stages into a unique mkdtemp sibling (two
    concurrent builders can't collide on a fixed '.building' path)
    and commits via os.replace; the completeness marker lives NEXT
    TO the directory because scans read everything inside it.
    `build_fn(staging_dir)` writes the fixture contents into the
    (already-created) staging directory."""
    import hashlib
    import shutil
    import tempfile

    total, newest = 0, 0
    if os.path.isfile(source_path):
        st = os.stat(source_path)
        total, newest = st.st_size, st.st_mtime_ns
    else:
        for root, _, files in os.walk(source_path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                total += st.st_size
                newest = max(newest, st.st_mtime_ns)
    key = hashlib.md5(
        f"{os.path.abspath(source_path)}|{total}|{newest}".encode()
    ).hexdigest()[:16]
    base = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_{name}_{key}")
    marker = base + ".complete"
    if os.path.exists(marker) and os.path.isdir(base):
        return base
    tmp = tempfile.mkdtemp(prefix=f"spark_graft_{name}_building_")
    build_fn(tmp)
    shutil.rmtree(base, ignore_errors=True)
    os.replace(tmp, base)
    with open(marker, "w") as fh:
        fh.write("ok")
    return base
