"""CATALOG.md (the generated catalog index) must stay in sync with
plans/registry.py — a new/renamed/moved entry that isn't regenerated
turns the suite red here. Every column (name, family, file::function,
oracle kind, bench pin) is derived live from the registry."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.make_catalog import OUT, check  # noqa: E402


def test_catalog_md_in_sync_with_registry():
    assert check() is None


def test_catalog_md_covers_every_entry():
    from nfl_data_engineering_spark.plans.registry import CATALOG
    with open(OUT) as fh:
        body = fh.read()
    for q in CATALOG:
        assert f"| {q.name} |" in body, f"{q.name} missing from CATALOG.md"
