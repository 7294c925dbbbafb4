"""Record the engine-environment fingerprint behind every gate run.

Round 5's driver gate recorded a hash_match:false for
monthly_sales_retract that NO local replica could reproduce (sf0.01,
sf0.1, hostile shuffle, LA-timezone session all green).  The
post-mortem stalled because nothing recorded which DuckDB build,
Spark session timezone, or float-canonicalization settings produced
the driver's hashes versus the local replica's — so the divergence
could not even be localized to an engine version.

This tool emits GATE_ENV.json: every library version, timezone and
locale knob, and the canonicalization contract the local replica
(tools/check_oracle.py) applies.  Commit the artifact each round.
When a driver red next disagrees with a local green, diff the
committed fingerprint against the driver host's and the suspect
list shrinks from "anything" to the fields that differ.

Round-6 extension (verdict task #8): the same reproducibility gap
applies to the sf1 ladder — CORRECTNESS_sf1.json claims entries
"verified in this session" against /tmp/spark_graft_sf1, but the
fixture is rebuilt ad hoc by tools/make_sf1.py and nothing pinned
WHICH bytes the claims were checked against.  ``--fixture <dir>``
emits a per-table content fingerprint (md5 + bytes of every parquet
file, since each table is a single file) to embed as the ``env``
header of sf1 addenda; a next-round rebuild that fingerprints
differently invalidates the old attestations explicitly instead of
silently.

Usage: python tools/gate_env.py            # writes <checkout>/GATE_ENV.json
       python tools/gate_env.py --print    # stdout only
       python tools/gate_env.py --fixture /tmp/spark_graft_sf1
"""

from __future__ import annotations

import json
import locale
import os
import platform
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fingerprint() -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    env = {
        "python": platform.python_version(),
        "platform": platform.platform(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "java_home": os.environ.get("JAVA_HOME", ""),
        "tz_env": os.environ.get("TZ", ""),
        "locale": locale.setlocale(locale.LC_ALL, None),
        # The local replica's comparison contract (tools/check_oracle.py):
        # columns sorted by name, rows sorted, floats rounded to 9dp in
        # the sort key and compared with rel-tol 1e-9; everything else
        # compared via str().  A driver that hashes raw float bits or
        # uses a different repr would diverge exactly where round-5 did.
        "canonicalization": {
            "column_order": "sorted-by-name",
            "row_order": "value-sorted",
            "float_sort_key": "round(v, 9)",
            "float_compare": "reltol 1e-9",
            "other_compare": "str(v)",
        },
    }
    # The JVM's default zone and the Spark session zone both shape
    # date_format/strftime outputs; record what a fresh session gets.
    try:
        from simpleetlpipeline_spark.session import get_spark

        spark = get_spark("gate-env", cpus=2)
        for key, name in (
            ("spark.sql.session.timeZone", "spark_session_tz"),
            ("spark.sql.ansi.enabled", "spark_ansi"),
            ("spark.sql.execution.arrow.pyspark.enabled", "spark_arrow"),
            ("spark.sql.adaptive.enabled", "spark_aqe"),
            ("spark.sql.shuffle.partitions", "spark_shuffle_partitions"),
        ):
            try:
                env[name] = spark.conf.get(key)
            except Exception:
                env[name] = "unset"
        jvm_tz = spark.sparkContext._jvm.java.util.TimeZone.getDefault().getID()
        env["jvm_default_tz"] = jvm_tz
    except Exception as exc:  # pragma: no cover - session start failure
        env["spark_session_tz"] = f"ERROR: {exc}"
    # DuckDB-side settings that shape strftime / decimal behavior.
    try:
        import duckdb as _d

        con = _d.connect()
        for k in ("TimeZone", "Calendar"):
            try:
                env[f"duckdb_{k.lower()}"] = con.execute(
                    f"SELECT current_setting('{k}')").fetchone()[0]
            except Exception:
                env[f"duckdb_{k.lower()}"] = "unset"
        con.close()
    except Exception:
        pass
    return env


def fixture_fingerprint(fdir: str) -> dict:
    """Content fingerprint of a fixture directory: md5 + byte size of
    every *.parquet (each table is one file in the make_sf1 layout),
    so sf1 attestations pin the exact bytes they were checked
    against."""
    import glob
    import hashlib

    out: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(fdir, "*.parquet"))):
        h = hashlib.md5()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        out[os.path.basename(path)] = {
            "md5": h.hexdigest(),
            "bytes": os.path.getsize(path),
        }
    return out


def main() -> int:
    if "--fixture" in sys.argv:
        fdir = sys.argv[sys.argv.index("--fixture") + 1]
        print(json.dumps({"fixture_dir": fdir,
                          "tables": fixture_fingerprint(fdir)},
                         indent=2, sort_keys=True))
        return 0
    env = fingerprint()
    text = json.dumps(env, indent=2, sort_keys=True)
    if "--print" in sys.argv:
        print(text)
    else:
        out = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "GATE_ENV.json")
        with open(out, "w") as f:
            f.write(text + "\n")
        print(f"wrote {out}")
        print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
