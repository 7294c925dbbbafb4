"""Generate PLANS.md — a physical-plan audit of the headline catalog
queries.

For each query the executed plan (post-AQE initial plan) is digested
into the facts that matter at 100 TB: what the scans read (column
pruning), which filters reached parquet (pushdown), every join's
physical strategy, how many shuffle exchanges run, whether top-k
plans as TakeOrderedAndProject, and how much of the plan runs inside
WholeStageCodegen. Run after plan-affecting changes:

    python tools/plan_report.py          # writes PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: Plan digests cover EVERY oracled, non-streaming catalog entry
#: (round-6 verdict task #6: a plan regression needs a committed
#: baseline to diff against) plus the rows-only operators whose
#: physical shape is worth auditing (LSH/ANN verify paths, the EWMA
#: grouped-map, the compression probe). Streaming entries are
#: excluded: their callables replay a stream and return a sink
#: table, so a batch plan digest would describe the replay harness,
#: not the streaming plan.
ROWS_ONLY_EXTRAS = [
    "dedup_minhash_lsh", "embedding_neardup_lsh", "ann_recall_report",
    "compression_quality", "user_value_ewma", "dedup_minhash_incremental",
]


def _headline() -> list[str]:
    from simpleetlpipeline_spark.plans.catalog import ORACLE_SQL, QUERIES

    names = [n for n in QUERIES
             if n in ORACLE_SQL and not n.startswith("streaming_")]
    return names + [n for n in ROWS_ONLY_EXTRAS if n not in names]


HEADLINE = _headline()

_JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)")


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def digest(plan: str) -> dict:
    pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)))
    pushed = [p for p in pushed if p.strip()]
    # ReadSchema: struct<a:bigint,b:string...> — the tree string may
    # truncate long structs with '...', so stay on one line and keep
    # only tokens that are plain identifiers.
    read_cols = sorted({
        c.split(":")[0].strip()
        for s in re.findall(r"ReadSchema: struct<([^>\n]*)", plan)
        for c in s.rstrip(">. ").split(",")
        if _IDENT_RE.match(c.split(":")[0].strip())
    })
    joins = [m.group(1) for m in _JOIN_RE.finditer(plan)]
    return {
        "read_cols": read_cols,
        "pushed": bool(pushed),
        "joins": joins,
        # every Exchange flavor is a real shuffle barrier: hash (joins/
        # aggs), range (global sorts), SinglePartition (global windows)
        "exchanges": len(re.findall(r"Exchange (hashpartitioning|"
                                    r"rangepartitioning|SinglePartition)",
                                    plan)),
        "topk": "TakeOrderedAndProject" in plan,
        "python": ("ArrowEvalPython" in plan or "MapInPandas" in plan
                   or "FlatMapGroupsInPandas" in plan),
    }


def main() -> None:
    from simpleetlpipeline_spark.plans import catalog
    from simpleetlpipeline_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"

    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Auto-generated by `tools/plan_report.py` at sf0.01 (plan",
        "shapes are scale-independent; AQE may further coalesce or",
        "convert joins at runtime). Columns: what the parquet scans",
        "actually read (pruning), whether filters reached the scan",
        "(pushdown), physical join strategies in plan order, shuffle",
        "exchange count (hash + range + single-partition), top-k as",
        "TakeOrderedAndProject, and whether any Python (Arrow) stage",
        "is on the path — everything else is JVM whole-stage codegen.",
        "",
        "| query | cols read | pushdown | joins | shuffles | top-k | python |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        fn = catalog.QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            # Pre-execution (AQE initial) plan: deterministic and free of
            # cached-subplan repetition; AQE can only improve it at
            # runtime (broadcast conversion, coalescing, skew split).
            d = digest(df._jdf.queryExecution().executedPlan().toString())
        except Exception as exc:  # pragma: no cover
            lines.append(f"| {name} | ERROR: {exc} | | | | | |")
            continue
        joins = ", ".join(
            f"{j}×{d['joins'].count(j)}" for j in dict.fromkeys(d["joins"])
        ) or "—"
        cols = ", ".join(d["read_cols"][:6])
        if len(d["read_cols"]) > 6:
            cols += f", … ({len(d['read_cols'])})"
        lines.append(
            f"| {name} | {cols or '—'} | {'yes' if d['pushed'] else '—'} "
            f"| {joins} | {d['exchanges']} | {'yes' if d['topk'] else '—'} "
            f"| {'Arrow' if d['python'] else '—'} |")
    lines += [
        "",
        "Audit invariants enforced by tests/test_plans.py: dimension",
        "joins broadcast (no SortMergeJoin in star joins), LSH band",
        "joins stay equi-joins (never cartesian), rollups pre-aggregate",
        "the fact side under the join, bucketed joins run with zero",
        "exchange, chunking/quantization stay narrow, and salted",
        "aggregation keeps two aggregate stages.",
        "",
    ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
