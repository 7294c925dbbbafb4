"""Output checks: each query's first execution in a run against its
DuckDB twin (`catalog.ORACLE_SQL`), every later execution against the
first. Canonicalization is the gate's (GATE_ENV.json): columns sorted by
name, rows sorted by value, floats equal to reltol 1e-9, taken from
tools/check_oracle.py."""

from __future__ import annotations

import os

from tools.check_oracle import normalize, values_equal

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def mismatch(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """Why two results differ under the gate's canonicalization, or None."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row count {len(rows_a)} != {len(rows_b)}"
    for i, (ra, rb) in enumerate(zip(normalize(rows_a, cols_a),
                                     normalize(rows_b, cols_b))):
        if len(ra) != len(rb) or not all(values_equal(a, b) for a, b in zip(ra, rb)):
            return f"row {i}: {ra} != {rb}"
    return None


class Oracle:
    """DuckDB over the run's fixture tables."""

    def __init__(self, sf_dir: str, temp_dir: str) -> None:
        import duckdb

        from simpleetlpipeline_spark.plans.catalog import ORACLE_SQL

        self.sql = ORACLE_SQL
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def check(self, name: str, cols, rows) -> str | None:
        res = self.con.execute(self.sql[name])
        return mismatch(cols, rows, [d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()
