"""Hostile-partitioning determinism sweep over the ENTIRE oracled
catalog — the insurance every gate rotation depends on.

Runs tools/check_oracle.py (the local replica of the driver's DuckDB
gate) at sf0.01 with SPARK_GRAFT_ORACLE_SHUFFLE=3: a partitioning the
driver never uses, so every aggregate's fold order changes. Any query
whose hashed floats depend on accumulation order (the doc_logprob bug
class) fails HERE before a rotation can put it in front of the driver.

Runs as a subprocess because the sweep needs its own SparkSession with
hostile shuffle partitions (the suite session is pinned to 4) and
session conf can't be swapped mid-JVM for baked-in configs.

Marked slow and gated behind SPARK_GRAFT_SLOW=1 (~6 min on a quiet
host — deliberate: the default suite stays under the driver's watch
interval). Run before every gate rotation:

    SPARK_GRAFT_SLOW=1 python -m pytest tests/test_oracle_sweep.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(
        os.environ.get("SPARK_GRAFT_SLOW") != "1",
        reason="full-catalog hostile-shuffle sweep (~6 min); "
               "set SPARK_GRAFT_SLOW=1 to run"),
]


def test_full_catalog_hostile_shuffle_sweep():
    env = dict(os.environ,
               SPARK_GRAFT_ORACLE_SHUFFLE="3",
               SPARK_GRAFT_ORACLE_CPUS="8")
    proc = subprocess.run(
        [sys.executable, "/root/repo/tools/check_oracle.py",
         "/root/testdata/sf0.01"],
        env=env, capture_output=True, text=True, timeout=3600)
    tail = "\n".join(proc.stdout.splitlines()[-8:])
    assert proc.returncode == 0, \
        f"hostile-shuffle sweep failed:\n{tail}\n{proc.stderr[-2000:]}"
    assert "0 failures" in proc.stdout
    # the catalog's session pin must keep the hostile count
    assert "shuffle partitions held: 3" in proc.stdout
