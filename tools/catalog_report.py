"""Generate CATALOG.md — an index of every registered query.

For each `__spark_entry__.queries()` entry: the implementing module,
whether it carries a DuckDB oracle (hash-verified) or is rows-only,
and the first line of its docstring as a one-line description. Run
after adding operators:

    python tools/catalog_report.py        # writes CATALOG.md

tests/test_catalog_report.py fails when CATALOG.md differs from
render().
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def first_line(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    if not doc:
        return ""
    # join the first sentence-ish fragment onto one line
    line = " ".join(doc.split("\n\n")[0].split())
    return line[:160] + ("…" if len(line) > 160 else "")


def render() -> str:
    """CATALOG.md's full text for the current registry."""
    from simpleetlpipeline_spark.plans import catalog

    lines = [
        "# CATALOG — every registered query",
        "",
        "Auto-generated by `tools/catalog_report.py`. Gate column:",
        "`oracle` = DuckDB twin exists (hash-verified by the",
        "correctness gate / tools/check_oracle.py); `rows-only` =",
        "genuinely non-SQL-expressible (seeded-hash LSH families,",
        "stateful streaming, the ETL driver loop) — covered by pytest",
        "structure/recall tests instead. The first 50 entries are the",
        "driver-gate window (plans/catalog.py GATE_PREFIX).",
        "",
        f"{len(catalog.QUERIES)} queries, "
        f"{sum(1 for n in catalog.QUERIES if n in catalog.ORACLE_SQL)} "
        "oracled.",
        "",
        "| # | query | module | gate | description |",
        "|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(catalog.QUERIES.items(), 1):
        mod = fn.__module__.replace("simpleetlpipeline_spark.", "")
        gate = "oracle" if name in catalog.ORACLE_SQL else "rows-only"
        lines.append(f"| {i} | {name} | {mod} | {gate} | {first_line(fn)} |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    from simpleetlpipeline_spark.plans import catalog

    with open(os.path.join(ROOT, "CATALOG.md"), "w") as fh:
        fh.write(render())
    print(f"wrote CATALOG.md ({len(catalog.QUERIES)} queries)")


if __name__ == "__main__":
    main()
