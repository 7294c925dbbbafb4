"""One query signature: every module-level function whose first two
parameters are (spark, sf_dir) takes nothing else, except the
arguments below that carry data rather than tuning. A tuning value
is a module constant its body reads at call time (tests patch the
constant), so no caller can step outside the contract its DuckDB
oracle checks."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "simpleetlpipeline_spark")

ALLOWED = {
    ("read_table", "name"),
    ("_table_rows", "name"),
    ("run_sql", "sql"),
    ("register_views", "tables"),
    ("write_dashboard", "out_dir"),
    ("streaming_totals_to_table", "table_root"),
    ("streaming_distinct_users_hll", "table_root"),
    ("validation_rules", "config"),
    # the one tuning keyword: hybrid_rrf_search ranks a deeper pool
    ("bm25_doc_ranking", "k"),
}


def test_spark_sf_dir_functions_take_no_tuning_parameters():
    extra = []
    for dirpath, _, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if not isinstance(node, ast.FunctionDef):
                    continue
                a = node.args
                params = [p.arg for p in a.posonlyargs + a.args]
                if params[:2] != ["spark", "sf_dir"]:
                    continue
                rest = params[2:] + [p.arg for p in a.kwonlyargs]
                rest += [p.arg for p in (a.vararg, a.kwarg) if p]
                rel = os.path.relpath(path, PKG)
                extra += [f"{rel}:{node.lineno} {node.name}({p})"
                          for p in rest if (node.name, p) not in ALLOWED]
    assert not extra, "tuning parameters on (spark, sf_dir) functions:\n" \
        + "\n".join(extra)


def _is_plus_two(node) -> bool:
    """`<name> + 2` or `<name> + F.lit(2)`: the 1-based start of the
    elements after 0-based index <name>."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add)
            and isinstance(node.left, ast.Name)):
        return False
    r = node.right
    if isinstance(r, ast.Call) and len(r.args) == 1:
        r = r.args[0]
    return isinstance(r, ast.Constant) and r.value == 2


def test_pairs_within_an_array_enumerate_only_in_ordered_pairs():
    """One pair enumerator: `F.slice(arr, i + 2, ...)` — the elements
    after the i-th — appears only inside
    operators.aggregates.ordered_pairs; every a<b posting-list
    expansion calls it instead of writing the nested transforms."""
    sites = []
    for dirpath, _, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            allowed = {
                id(n) for f in ast.walk(tree)
                if isinstance(f, ast.FunctionDef)
                and f.name == "ordered_pairs"
                for n in ast.walk(f)}
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "slice"
                        and len(node.args) >= 2
                        and _is_plus_two(node.args[1])
                        and id(node) not in allowed):
                    rel = os.path.relpath(path, PKG)
                    sites.append(f"{rel}:{node.lineno}")
    assert not sites, "hand-written pair expansions (use ordered_pairs):\n" \
        + "\n".join(sites)


def test_no_file_names_its_own_checkout():
    """Every tool and test finds the checkout from its own __file__:
    a hard-coded absolute path to the checkout makes any other copy
    (the parent side of an A/B) import, profile and oracle-check that
    fixed tree instead of itself."""
    own = re.compile(re.escape(ROOT) + r"(?![\w.-])")
    hits = []
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as fh:
                hits += [f"{os.path.relpath(path, ROOT)}:{n}"
                         for n, line in enumerate(fh, 1)
                         if own.search(line)]
    assert not hits, f"hard-coded {ROOT} (derive it from __file__):\n" \
        + "\n".join(hits)


def test_no_tool_shadows_a_stdlib_module():
    """A script's directory heads sys.path, so tools/<name>.py named
    like a stdlib module replaces it for every sibling tool (a
    tools/profile.py breaks `import pyspark`, which reaches the stdlib
    `profile` through cProfile)."""
    import sys

    tools = os.listdir(os.path.join(ROOT, "tools"))
    assert not [f for f in tools if f.endswith(".py")
                and f[:-3] in sys.stdlib_module_names]
