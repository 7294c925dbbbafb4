"""The session pin: every catalog entry asserts the session profile
exactly once per call, the pin keeps an explicitly set shuffle
partition count, and no module but session.py and the catalog names
ensure_session_conf."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import simpleetlpipeline_spark
from simpleetlpipeline_spark import session
from simpleetlpipeline_spark.plans import catalog

SHUFFLE = "spark.sql.shuffle.partitions"


def _count_pins(monkeypatch) -> list:
    """Rebind every module-level ensure_session_conf to a counting
    wrapper (the same patch tests/test_dates.py uses for its hostile
    timezone); returns the list each pin appends to."""
    real = session.ensure_session_conf
    calls = []

    def counting(spark):
        calls.append(spark)
        return real(spark)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("simpleetlpipeline_spark")
                and getattr(mod, "ensure_session_conf", None) is real):
            monkeypatch.setattr(mod, "ensure_session_conf", counting)
    return calls


def test_each_catalog_call_pins_once(spark, sf_dir, monkeypatch):
    """One pin per catalog call: for a query whose body reads several
    tables, and for a second call of a cached entry (a cache hit,
    whose body builds nothing)."""
    calls = _count_pins(monkeypatch)
    catalog.QUERIES["revenue_by_nation"](spark, sf_dir)
    assert len(calls) == 1
    for _ in range(2):
        calls.clear()
        catalog.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        assert len(calls) == 1


def test_pin_keeps_an_explicit_shuffle_count(spark, sf_dir):
    """A count set by the caller survives a catalog call; only an
    unset key gets default_parallelism()."""
    before = spark.conf.get(SHUFFLE)
    try:
        spark.conf.set(SHUFFLE, "3")
        catalog.QUERIES["revenue_by_nation"](spark, sf_dir)
        assert spark.conf.get(SHUFFLE) == "3"
        spark.conf.unset(SHUFFLE)
        assert spark.conf.get(SHUFFLE, None) is None
        catalog.QUERIES["revenue_by_nation"](spark, sf_dir)
        assert spark.conf.get(SHUFFLE) == str(session.default_parallelism())
    finally:
        spark.conf.set(SHUFFLE, before)


def test_only_the_catalog_pins():
    """No module but session.py (which defines it) and plans/catalog.py
    (which pins on entry) names ensure_session_conf."""
    pkg = Path(simpleetlpipeline_spark.__file__).parent
    allowed = {pkg / "session.py", pkg / "plans" / "catalog.py"}
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            names = {getattr(node, "id", None), getattr(node, "attr", None)}
            if isinstance(node, ast.ImportFrom):
                names |= {a.name for a in node.names}
            if "ensure_session_conf" in names:
                found.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert found == [], f"ensure_session_conf outside the catalog: {found}"
