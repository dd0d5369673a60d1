"""Single-copy lint: the banded candidate join and the exact-cosine score
live only in functions/similarity.py (candidate_pairs, verify_cosine).
A hand-written copy under plans/ could drift and silently verify a
different truth than the kernel every other entry uses."""

from __future__ import annotations

import pathlib
import re

PLANS = (pathlib.Path(__file__).resolve().parents[1]
         / "nfl_data_engineering_spark" / "plans")

COPIES = {
    "banded candidate join": re.compile(
        r'\.join\([^()]*\[\s*"band"\s*,\s*"band_key"\s*\]'),
    "exact-cosine score": re.compile(r"try_divide\(\s*_?dot\("),
}


def test_no_kernel_copies_under_plans():
    found = []
    for path in sorted(PLANS.glob("*.py")):
        src = path.read_text()
        for what, pat in COPIES.items():
            for m in pat.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                found.append(f"{path.name}:{line}: {what}")
    assert not found, ("use functions/similarity.py instead of a copy:\n"
                       + "\n".join(found))


def test_lint_catches_the_copies_it_names():
    """The patterns match the hand-written forms they exist to forbid."""
    join = 'cand = (b1.join(b2, ["band", "band_key"])'
    score = 'score = F.try_divide(_dot(F.col("e1"), F.col("e2")),'
    assert COPIES["banded candidate join"].search(join)
    assert COPIES["exact-cosine score"].search(score)
