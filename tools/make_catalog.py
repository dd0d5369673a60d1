"""Generate CATALOG.md — the machine-readable index of the query catalog:
one line per registry entry with its SURVEY.md §2 / family tag, defining
``file::function``, oracle kind and bench-pin flag, all derived live from
plans/registry.py. No line numbers, so an edit inside a plan module
leaves the index unchanged unless it adds, renames or moves an entry.

Usage:  python tools/make_catalog.py [--check]

--check fails when the committed CATALOG.md differs from a regeneration.
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
OUT = os.path.join(REPO, "CATALOG.md")


def generate() -> str:
    from nfl_data_engineering_spark.plans.registry import CATALOG

    lines = [
        "# Query catalog index",
        "",
        "MACHINE-GENERATED by `python tools/make_catalog.py` — edit the",
        "registry (`nfl_data_engineering_spark/plans/*.py`), not this file.",
        "`oracle` = hash-compared DuckDB SQL twin (`rows` = rows-only).",
        "",
        f"{len(CATALOG)} entries.",
        "",
        "| entry | §2 ids / family | defined at | oracle | bench |",
        "|---|---|---|---|---|",
    ]
    for q in CATALOG:
        fn = inspect.unwrap(q.spark)
        src = os.path.relpath(inspect.getsourcefile(fn), REPO)
        lines.append(
            f"| {q.name} | {q.ops} | {src}::{fn.__name__} "
            f"| {'sql' if q.oracle else 'rows'} "
            f"| {'pin' if q.bench else ''} |")
    return "\n".join(lines) + "\n"


def check() -> str | None:
    """None if the committed CATALOG.md matches a regeneration. Single
    definition shared by `--check` and tests/test_catalog.py."""
    with open(OUT) as fh:
        have = fh.read()
    if generate() != have:
        return ("CATALOG.md is out of sync with plans/registry.py — "
                "regenerate with: python tools/make_catalog.py")
    return None


def main() -> int:
    if "--check" in sys.argv:
        err = check()
        if err:
            sys.stderr.write(err + "\n")
            return 1
        print("CATALOG.md in sync")
        return 0
    with open(OUT, "w") as fh:
        fh.write(generate())
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
