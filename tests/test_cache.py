"""The shared-cache registry (simpleetlpipeline_spark/cache.py): release
-> rebuild, stamp-keyed driver values, concurrent first consumers, and
a guard that keeps it the package's only cross-query memo."""

from __future__ import annotations

import ast
import sys
import threading
from pathlib import Path

import pandas as pd
import pytest

import simpleetlpipeline_spark
from simpleetlpipeline_spark import cache
from simpleetlpipeline_spark.functions import pretrain, similarity


def test_release_rebuilds_shared_frames_and_keeps_centroids(spark, sf_dir):
    """After release_caches() the shared frames come back persisted,
    and the k-means rebuild reuses the kept centroids: no Lloyd-loop
    collect, so rebuilding launches no Spark job."""
    similarity._vectors(spark, sf_dir)
    pretrain.kmeans_assign(spark, sf_dir)
    assert cache.release_caches() >= 2
    sc = spark.sparkContext
    group = "test_cache_rebuild"
    sc.setJobGroup(group, "shared-cache rebuild")
    try:
        vecs = similarity._vectors(spark, sf_dir)
        assigned = pretrain.kmeans_assign(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert vecs.is_cached and assigned.is_cached
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert vecs is similarity._vectors(spark, sf_dir)
    assert assigned.count() == vecs.count()


@pytest.mark.parametrize("form", ["file", "dir"])
def test_table_rows_recounts_rewritten_table(spark, tmp_path, form):
    """A footer fact is keyed on the file's stamp, so rewriting the
    table with a different row count is seen on the next call."""
    path = tmp_path / "embeddings.parquet"

    def write(n):
        if form == "file":
            pd.DataFrame({"vec_id": range(n)}).to_parquet(path)
        else:
            spark.range(n).write.mode("overwrite").parquet(str(path))

    write(3)
    assert similarity._table_rows(spark, str(tmp_path), "embeddings") == 3
    write(5)
    assert similarity._table_rows(spark, str(tmp_path), "embeddings") == 5


def test_concurrent_first_consumers_build_once(spark, sf_dir, monkeypatch):
    """8 threads (more than the cores) race to be the first consumer
    of one shared frame: one build, one object for all of them."""
    builds = []
    read_table = similarity.read_table

    def counting_read_table(s, d, name):
        builds.append(name)
        return read_table(s, d, name)

    monkeypatch.setattr(similarity, "read_table", counting_read_table)
    cache.release_caches()
    n = 8
    got: list = [None] * n
    start = threading.Barrier(n)

    def consume(i):
        start.wait(timeout=30)
        got[i] = similarity._vectors(spark, sf_dir)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=consume, args=(i,), daemon=True)
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads), "consumer hung"
    finally:
        sys.setswitchinterval(interval)
    assert builds == ["embeddings"]
    assert got[0] is not None and all(g is got[0] for g in got)


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id in ("dict", "set")
            and not node.args and not node.keywords)


def test_cache_module_is_the_only_memo():
    """No module but cache.py binds a module-level name to an empty
    dict/list/set or memoizes with functools.lru_cache/cache: shared
    reuse goes through cache.shared so release_caches() governs it."""
    pkg = Path(simpleetlpipeline_spark.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "cache.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        name = path.relative_to(pkg)
        for node in tree.body:
            if (isinstance(node, (ast.Assign, ast.AnnAssign))
                    and node.value is not None
                    and _is_empty_container(node.value)):
                found.append(f"{name}:{node.lineno}")
        for node in ast.walk(tree):
            if (isinstance(node, ast.ImportFrom)
                    and node.module == "functools"
                    and {a.name for a in node.names} & {"lru_cache", "cache"}):
                found.append(f"{name}:{node.lineno}")
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "functools"
                    and node.attr in ("lru_cache", "cache")):
                found.append(f"{name}:{node.lineno}")
    assert found == [], f"module-level memo outside cache.py: {found}"
