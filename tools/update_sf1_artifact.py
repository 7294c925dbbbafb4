"""Rebuild CORRECTNESS_sf1.json from a fresh full-catalog sf1 sweep
log (tools/check_oracle.py /tmp/spark_graft_sf1 > CORRECTNESS_sf1.log).

Keeps the versioned fixture fingerprint contract from the round-5
verdict: attestations are only meaningful against exactly the
fixture bytes recorded in `env.fixture`, so this tool re-fingerprints
the fixture directory and fails loudly if the parquet md5s changed
since the sweep would then need re-running.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.gate_env import fixture_fingerprint  # noqa: E402

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")


def main() -> None:
    if len(sys.argv) < 2 or not sys.argv[1].strip():
        raise SystemExit(
            "usage: update_sf1_artifact.py \"<one-line note describing "
            "THIS sweep (what changed since the last attestation)>\"")
    note = sys.argv[1].strip()
    log_path = os.path.join(REPO, "CORRECTNESS_sf1.log")
    text = open(log_path).read()
    passes = re.findall(r"^PASS (\S+)", text, re.M)
    rows_only = re.findall(r"^ok   (\S+): rows-only", text, re.M)
    fails = re.findall(r"^FAIL (\S+):", text, re.M)
    from simpleetlpipeline_spark.plans import catalog

    n_hash = len(passes)
    n_rows = len(rows_only)
    passes = passes + rows_only

    prev = json.load(open(os.path.join(REPO, "CORRECTNESS_sf1.json")))
    fresh_fp = fixture_fingerprint(SF1)
    prev_fp = prev.get("env", {}).get("fixture", {}).get("tables", {})
    if prev_fp and prev_fp != fresh_fp:
        raise SystemExit(
            "sf1 fixture fingerprint changed since the recorded sweep — "
            "rebuild + rerun the sweep before updating the artifact")

    missing = sorted(set(catalog.QUERIES) - set(passes) - set(fails))
    out = {
        "sf_dir": prev["sf_dir"],
        "catalog_size": len(catalog.QUERIES),
        "verified_hash": n_hash,
        "verified_rows_only": n_rows,
        "failures": len(fails),
        "skipped": {m: "NOT IN LOG — investigate" for m in missing},
        # The sweep note must describe THE SWEEP THIS ARTIFACT RECORDS
        # (round-11 advice: a stale note misattributes the
        # attestation), so it is a required CLI argument, not a
        # baked-in string: tools/update_sf1_artifact.py "<note>".
        "notes": {
            "history": ("per-round attestation notes live in this "
                        "file's git history; the sweep note below "
                        "describes the run this artifact records."),
            "sweep": note,
        },
        "env": prev["env"],
    }
    if fails:
        out["failed_queries"] = sorted(set(fails))
    with open(os.path.join(REPO, "CORRECTNESS_sf1.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(f"hash={n_hash} rows_only={n_rows} fails={len(fails)} "
          f"missing={len(missing)}")


if __name__ == "__main__":
    main()
