"""Local replica of the driver's t2 DuckDB-oracle correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet, then compares
row count, column names, and order-insensitive values (sorted by
column name, rows sorted, doubles compared to 1e-9 after the
queries' own rounding). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

Fetch modes (SPARK_GRAFT_ORACLE_FETCH):
- ``exact`` (default): Spark ``collect()`` + DuckDB ``fetchall()``
  — exact Python ints/Decimals on both sides.
- ``pandas``: Spark ``toPandas()`` (Arrow) + DuckDB ``.df()`` —
  the dataframe fetch path, under which DuckDB converts HUGEINT
  and DECIMAL columns to float64. This rung is what reproduces the
  r5-r7 driver hash-reds that the exact path could never see
  (``str(74.0) != str(74)``); run the ladder under BOTH modes.
  Values are taken from the frames with numpy scalars unwrapped
  via ``.item()`` (pandas NaT/NaN -> None), i.e. "whatever a
  dataframe-iterating driver would str()".
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, round(v, 9))
        return (2, str(v))

    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(key(v) for v in r))


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def _frame_rows(df) -> list[tuple]:
    """Rows of a pandas frame as plain-Python tuples, the way a
    dataframe-iterating comparator would see them: numpy scalars
    unwrapped (int64 -> int, float64 -> float — so a HUGEINT column
    that DuckDB float-converted STAYS a float, which is the point),
    NaT/None-likes -> None.

    datetime.date normalizes to a midnight Timestamp: Spark's
    toPandas renders DATE columns as object(date) while DuckDB's
    .df() gives datetime64 — a representation split the REAL
    driver's canonicalizer demonstrably equates (every DATE-output
    entry has multi-round driver-green history), so this emulation
    must not flag it; numeric type splits (the INT128 class) are
    what this rung exists to catch."""
    import datetime

    import numpy as np
    import pandas as pd

    out = []
    for row in df.itertuples(index=False, name=None):
        vals = []
        for v in row:
            if v is None or (pd.api.types.is_scalar(v) and pd.isna(v)):
                vals.append(None)
            elif isinstance(v, np.ndarray):
                # Array-typed output columns (embedding vectors, token
                # lists) arrive as ndarray cells under BOTH engines'
                # dataframe fetch; .item() raises ValueError for
                # size>1, so convert to plain lists (str-comparable
                # across engines) instead of misreporting the query as
                # an engine error.
                vals.append(v.tolist())
            elif isinstance(v, np.generic):
                # Numpy SCALARS unwrap via .item() (int64 -> int,
                # float64/float32 -> float) — must come AFTER the
                # ndarray branch (ndarray is not np.generic, but
                # checking here keeps the order explicit). Without
                # this, np.float32 cells would str-compare exactly
                # and lose the 1e-9 tolerance, and np.int64 would
                # ride on str() equivalence by accident.
                vals.append(v.item())
            elif (isinstance(v, datetime.date)
                  and not isinstance(v, datetime.datetime)):
                vals.append(pd.Timestamp(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return out


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from simpleetlpipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Determinism sweep knob: running the whole gate under a hostile
    # partitioning (e.g. SPARK_GRAFT_ORACLE_SHUFFLE=3) changes every
    # aggregate's fold order — any query whose hashed floats depend on
    # accumulation order (the doc_logprob bug class) fails HERE before
    # the driver's gate can catch it under its own partitioning.
    spark = get_spark(
        "oracle-check",
        cpus=int(os.environ.get("SPARK_GRAFT_ORACLE_CPUS", "8")),
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_ORACLE_SHUFFLE", "8")))
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # SPARK_GRAFT_ORACLE_SKIP=a,b,c — escape hatch for scale sweeps.
    # As of round 9 the sf1 sweep needs NO skips: the three former
    # quadratic-oracle exclusions were rewritten linear-or-fast
    # (fuzzy_name_neighbors name-level on both sides;
    # embedding_neardup / semantic_dedup_clusters oracles on native
    # DOUBLE[64] array_inner_product + unrolled label propagation).
    skip = {s for s in os.environ.get(
        "SPARK_GRAFT_ORACLE_SKIP", "").split(",") if s}
    fetch = os.environ.get("SPARK_GRAFT_ORACLE_FETCH", "exact")
    assert fetch in ("exact", "pandas"), fetch
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"skip {name} (SPARK_GRAFT_ORACLE_SKIP)")
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            if fetch == "pandas":
                srows = _frame_rows(sdf.toPandas())
            else:
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if sql is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            if fetch == "pandas":
                ddf = con.execute(sql).df()
                dcols = list(ddf.columns)
                drows = _frame_rows(ddf)
            else:
                res = con.execute(sql)
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            ns, nd = normalize(srows, scols), normalize(drows, dcols)
            for i, (rs, rd) in enumerate(zip(ns, nd)):
                if len(rs) != len(rd) or not all(values_equal(a, b) for a, b in zip(rs, rd)):
                    problems.append(f"row {i}: spark={rs} duck={rd}")
                    if len(problems) > 3:
                        break
        if problems:
            print(f"FAIL {name}:")
            for p in problems[:5]:
                print(f"     {p}")
            failed.append(name)
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    print("shuffle partitions held: "
          + spark.conf.get("spark.sql.shuffle.partitions"))
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    from simpleetlpipeline_spark.cache import release_caches

    release_caches()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
