"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Checks that every workload BENCHMARK.json names is defined, that each
emits every end-to-end metric (`--trace 0`) and every per-layer metric
(`--trace 1`) named there, with its unit, that a deliberately corrupted
result counts as failed, and that a run whose operations all raise
still ends and reports them failed. Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import load_spec  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SF = 0.001


def check_spec(spec: dict) -> None:
    assert spec["command"] == ["python3", "perfbench/run.py"], spec["command"]
    names = [w["name"] for w in spec["workloads"]]
    assert sorted(names) == sorted(WORKLOADS), names


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--sf", str(SF),
           *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(result: dict, metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in metrics}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (got, want)
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main() -> int:
    spec = load_spec()
    check_spec(spec)
    for i, w in enumerate(spec["workloads"]):
        name = w["name"]
        # The first workload's untraced run also corrupts one result.
        inject = ("--inject", "corrupt") if i == 0 else ()
        result = run(name, 0, *inject)
        check_result(result, spec["end_to_end"])
        if inject:
            assert result["failed"] == 1 and not result["correct"], result
        else:
            assert result["failed"] == 0 and result["correct"], result
        result = run(name, 1)
        check_result(result, spec["per_layer"])
        assert result["failed"] == 0 and result["correct"], result
        print(f"selftest: {name} ok", flush=True)
    # An engine whose every operation fails must still end the run.
    result = run(spec["workloads"][0]["name"], 0, "--inject", "raise")
    check_result(result, spec["end_to_end"])
    assert result["failed"] == result["attempted"] and not result["correct"], result
    print("selftest: failing engine ok")
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
