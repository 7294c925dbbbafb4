"""CATALOG.md is generated, never hand-edited: it must equal what
tools/catalog_report.py renders from the live registry."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_md_matches_render():
    spec = importlib.util.spec_from_file_location(
        "catalog_report", os.path.join(ROOT, "tools", "catalog_report.py"))
    report = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(report)
    with open(os.path.join(ROOT, "CATALOG.md")) as fh:
        on_disk = fh.read()
    assert on_disk == report.render(), (
        "CATALOG.md is stale: run python tools/catalog_report.py")
