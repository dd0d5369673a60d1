"""Single-copy lint. The banded candidate join, the exact-cosine score
and the df-capped shingle self-join live only in functions/similarity.py
(candidate_pairs, verify_cosine, capped_overlap); the oracles' capped
overlap and connected-components replay live in one CTE function each
(plans/textops.py: sql_capped_overlap_ctes, sql_component_ctes,
_sql_verify_tail). The streaming entries' memory-sink drain and the
entries' scratch-dir tag live in one helper each (plans/base.py:
drain_memory, scratch_dir). A hand-written copy could drift and
silently verify a different truth than the one every other entry
uses."""

from __future__ import annotations

import pathlib
import re

PLANS = (pathlib.Path(__file__).resolve().parents[1]
         / "nfl_data_engineering_spark" / "plans")

# Spark kernels: no copy at all under plans/
COPIES = {
    "banded candidate join": re.compile(
        r'\.join\([^()]*\[\s*"band"\s*,\s*"band_key"\s*\]'),
    "exact-cosine score": re.compile(r"try_divide\(\s*_?dot\("),
    "df-capped shingle self-join": re.compile(
        r's1\.join\(\s*s2\s*,\s*"sh60"'),
}

# oracle CTEs: exactly one copy under plans/, inside its CTE function
SQL_CTES = {
    "capped-overlap self-join": re.compile(
        r"FROM\s+capped\s+x\s+JOIN\s+capped\s+y\b"),
    "component replay": re.compile(r"JOIN\s+bi\s+ON\s+r\.b\s*=\s*bi\.a\b"),
    "exact-jaccard verify": re.compile(
        r"JOIN\s+shh\s+y\s+ON\s+y\.doc_id\s*=\s*c\.d2\b"),
}

# entry scaffolding: exactly one copy under plans/, inside its helper
SCAFFOLD = {
    "memory-sink drain": re.compile(
        r"""writeStream\s*\.format\(\s*["']memory["']"""),
    "scratch-dir tag": re.compile(r"hashlib\.md5\(\s*sf_dir\b"),
}


def _matches(pat: re.Pattern) -> list[str]:
    found = []
    for path in sorted(PLANS.glob("*.py")):
        src = path.read_text()
        for m in pat.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            found.append(f"{path.name}:{line}")
    return found


def test_no_kernel_copies_under_plans():
    found = [f"{at}: {what}" for what, pat in COPIES.items()
             for at in _matches(pat)]
    assert not found, ("use functions/similarity.py instead of a copy:\n"
                       + "\n".join(found))


def test_one_sql_cte_copy_under_plans():
    for what, pat in SQL_CTES.items():
        found = _matches(pat)
        assert len(found) == 1, (f"{what}: expected one CTE function, found "
                                 + ", ".join(found or ["none"]))


def test_one_scaffold_copy_under_plans():
    for what, pat in SCAFFOLD.items():
        found = _matches(pat)
        assert len(found) == 1 and found[0].startswith("base.py:"), (
            f"{what}: expected one helper in base.py, found "
            + ", ".join(found or ["none"]))


def test_lint_catches_the_copies_it_names():
    """The patterns match the hand-written forms they exist to forbid."""
    join = 'cand = (b1.join(b2, ["band", "band_key"])'
    score = 'score = F.try_divide(_dot(F.col("e1"), F.col("e2")),'
    capped = 'inter = (s1.join(s2, "sh60").filter(F.col("d1") < F.col("d2"))'
    sql_capped = ("  FROM capped x JOIN capped y ON y.sh60 = x.sh60 "
                  "AND x.doc_id < y.doc_id")
    sql_replay = "  SELECT r.a, bi.b FROM r JOIN bi ON r.b = bi.a),"
    sql_verify = ("  FROM star c JOIN shh x ON x.doc_id = c.d1\n"
                  "  JOIN shh y ON y.doc_id = c.d2 AND y.sh60 = x.sh60")
    drain = ('        q = (agg.writeStream.format("memory").queryName(sink)\n'
             '             .outputMode("complete")')
    tag = ("    tag = (hashlib.md5(sf_dir.encode()).hexdigest()[:8]\n"
           '           + f"_{os.getpid()}")')
    assert COPIES["banded candidate join"].search(join)
    assert COPIES["exact-cosine score"].search(score)
    assert COPIES["df-capped shingle self-join"].search(capped)
    assert SQL_CTES["capped-overlap self-join"].search(sql_capped)
    assert SQL_CTES["component replay"].search(sql_replay)
    assert SQL_CTES["exact-jaccard verify"].search(sql_verify)
    assert SCAFFOLD["memory-sink drain"].search(drain)
    assert SCAFFOLD["scratch-dir tag"].search(tag)
