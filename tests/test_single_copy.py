"""Single-copy lint. The banded candidate join, the exact-cosine score
and the df-capped shingle self-join live only in functions/similarity.py
(candidate_pairs, verify_cosine, capped_overlap); the oracles' capped
overlap and connected-components replay live in one CTE function each
(plans/textops.py: sql_capped_overlap_ctes, sql_component_ctes,
_sql_verify_tail). The streaming entries' memory-sink drain and the
entries' scratch-dir tag live in one helper each (plans/base.py:
drain_memory, scratch_dir). A hand-written copy could drift and
silently verify a different truth than the one every other entry
uses; the same holds for the rank-exact percentile accuracy rule
(plans/base.py: rank_exact_accuracy). A cache under plans/ and operators/ is
made only by storage.pin, which parks its release where the cache is made; the
one exception is the staged barrier's part, parked once its family's stage has
released the family's pins. No package code reads the context-global
persistent-RDD registry: a release diffed off it frees whatever appeared,
whoever made it, so storage is released by the frame that made it
(storage.release_frame). A pinned cache fills in its first consumer's job: no
statement under plans/ and operators/ runs a count() only to throw its value
away (the staged barrier's part.count() is the one exemption). Each operator
has one implementation: no package code
catches ImportError to pick a second body by which libraries are installed, so
a result never depends on the environment (parity.py's fallback from the entry
module to the registry is the one exemption). Code, tests and tools state
facts, not the history of how they were reached: no round, verdict, advice or
review citation and no pointer into a round section of SCALE.md (git keeps the
history; plans/registry.py's driver-window rotation is the one exemption)."""

from __future__ import annotations

import ast
import pathlib
import re

PACKAGE = (pathlib.Path(__file__).resolve().parents[1]
           / "nfl_data_engineering_spark")
PLANS = PACKAGE / "plans"
REPO = PACKAGE.parent

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
    "percentile accuracy rule": re.compile(r"max\(\s*1_000_000\s*,\s*10\s*\*"),
}

# a bare cache: allowed under plans/ and operators/ only as ALLOWED_CACHE
BARE_CACHE = re.compile(r"\.(?:cache\(\)|persist\()")
ALLOWED_CACHE = {("similarity_api.py", "part = tagged.cache()")}

# a statement that discards a count(): allowed under plans/ and operators/
# only as ALLOWED_DISCARDED_COUNT
ALLOWED_DISCARDED_COUNT = {("similarity_api.py", "part.count()")}


def discarded_counts(src: str) -> list[tuple[int, str]]:
    """(line, source) of each expression statement in ``src`` that is a
    bare ``x.count()`` call or a tuple of them."""
    def is_count(node: ast.expr) -> bool:
        return (isinstance(node, ast.Call) and not node.args
                and not node.keywords
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "count")

    found = []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.Expr):
            continue
        calls = (node.value.elts if isinstance(node.value, ast.Tuple)
                 else [node.value])
        if calls and all(is_count(c) for c in calls):
            found.append((node.lineno, ast.unparse(node.value)))
    return found


# a registry read, or the registry-diff ids once set on frames: nowhere
# in the package
REGISTRY_READ = re.compile(r"getPersistentRDDs|_ckpt_ids")

# an import probe that forks an operator: allowed in the package only as
# ALLOWED_IMPORT_GATE
IMPORT_GATE = re.compile(r"except\s*\(?\s*(?:ModuleNotFound|Import)Error\b")
ALLOWED_IMPORT_GATE = {("parity.py", "except ImportError as e:")}

# a history citation: a round number, a verdict/advice item, a review
# finding, or a pointer into a round section of SCALE.md. The character
# classes keep these patterns from matching their own source.
HISTORY = re.compile(r"\b(?:VERDIC[T]|ADVIC[E])\b|\b[Rr]ounds?[- ]?\d+\b"
                     r"|\breview findin[g]|SCALE\.md,?\s+[Rr]ound")
HISTORY_EXEMPT = {PLANS / "registry.py"}


def _matches(pat: re.Pattern) -> list[str]:
    found = []
    for path in sorted(PLANS.glob("*.py")):
        src = path.read_text()
        for m in pat.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            found.append(f"{path.name}:{line}")
    return found


def test_caches_are_made_by_pin():
    found = []
    for path in sorted([*PLANS.glob("*.py"),
                        *(PACKAGE / "operators").glob("*.py")]):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if (BARE_CACHE.search(line)
                    and (path.name, line.strip()) not in ALLOWED_CACHE):
                found.append(f"{path.parent.name}/{path.name}:{n}: "
                             f"{line.strip()}")
    assert not found, ("cache through storage.pin, which parks the "
                       "release:\n" + "\n".join(found))


def test_caches_fill_in_their_first_consumer():
    found = []
    for path in sorted([*PLANS.glob("*.py"),
                        *(PACKAGE / "operators").glob("*.py")]):
        for n, stmt in discarded_counts(path.read_text()):
            if (path.name, stmt) not in ALLOWED_DISCARDED_COUNT:
                found.append(f"{path.parent.name}/{path.name}:{n}: {stmt}")
    assert not found, ("let the first consumer fill the cache; a count() "
                       "whose value is thrown away is one more job:\n"
                       + "\n".join(found))


def test_no_registry_reads_in_the_package():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if REGISTRY_READ.search(line):
                found.append(f"{path.relative_to(PACKAGE)}:{n}: "
                             f"{line.strip()}")
    assert not found, ("release storage by its frame "
                       "(storage.release_frame):\n" + "\n".join(found))


def test_no_import_gated_forks_in_the_package():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if (IMPORT_GATE.search(line)
                    and (path.name, line.strip()) not in ALLOWED_IMPORT_GATE):
                found.append(f"{path.relative_to(PACKAGE)}:{n}: "
                             f"{line.strip()}")
    assert not found, ("keep one implementation, not one per installed "
                       "library:\n" + "\n".join(found))


def test_code_cites_no_history():
    found = []
    for path in sorted([*PACKAGE.rglob("*.py"),
                        *(REPO / "tests").rglob("*.py"),
                        *(REPO / "tools").rglob("*.py")]):
        if path in HISTORY_EXEMPT:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if HISTORY.search(line):
                found.append(f"{path.relative_to(REPO)}:{n}: "
                             f"{line.strip()}")
    assert not found, ("state the fact, not the round that found it:\n"
                       + "\n".join(found))


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
    cache = ('    sh = explode_shingle_hashes(docs, "doc_id", "text", '
             'n=3).cache()')
    persist = '             .select("u", "v")).repartition(1).persist()'
    registry = ("    it = spark.sparkContext._jsc.getPersistentRDDs()"
                ".keySet().iterator()")
    diff_ids = "    labels._ckpt_ids = rot.prev_ids"
    accuracy = "    acc = F.lit(max(1_000_000, 10 * spend.count()))"
    fills = ("def q(spark, sf_dir):\n"
             "    bands = pin(bands)\n"
             "    bands.count()   # eager: both candidate sides read it\n"
             "    hv, hc = pin(hashes('view')), pin(hashes('click'))\n"
             "    hv.count(), hc.count()\n"
             "    n_edges = edges.count()\n"
             "    return srp_bits(vecs.count())")
    probe = ("def _have_pillow() -> bool:\n"
             "    try:\n"
             "        import PIL  # noqa: F401\n"
             "        return True\n"
             "    except ImportError:\n"
             "        return False")
    # split literals: this file must not cite history itself
    history = ["# (VER" "DICT r7 item 5): 0.8 under the 64-hash budget",
               "    recall after any NUM_HASHES retune (ADV" "ICE r8).",
               "    # data (rou" "nd-8 review)",
               "    # Rou" "nd 13: the surgery is ROW-LOCAL.",
               "    materialization, rou" "nds 8-9).",
               "    an IndexError traceback (review fin" "ding).",
               "    (SCALE.md rou" "nd 9): on that SHORT-doc corpus"]
    facts = ["    # each round every node takes the min label",
             "    CAST(round(o_totalprice * 100) AS BIGINT)",
             "    tests/test_round4b_plans.py via recentProgress",
             "    Verdict per incoming doc: 'exact_dup'",
             "    r2 - r1 AS total_delta_cents"]
    assert COPIES["banded candidate join"].search(join)
    assert COPIES["exact-cosine score"].search(score)
    assert COPIES["df-capped shingle self-join"].search(capped)
    assert SQL_CTES["capped-overlap self-join"].search(sql_capped)
    assert SQL_CTES["component replay"].search(sql_replay)
    assert SQL_CTES["exact-jaccard verify"].search(sql_verify)
    assert SCAFFOLD["memory-sink drain"].search(drain)
    assert SCAFFOLD["scratch-dir tag"].search(tag)
    assert SCAFFOLD["percentile accuracy rule"].search(accuracy)
    assert BARE_CACHE.search(cache) and BARE_CACHE.search(persist)
    assert REGISTRY_READ.search(registry) and REGISTRY_READ.search(diff_ids)
    assert IMPORT_GATE.search(probe)
    assert discarded_counts(fills) == [(3, "bands.count()"),
                                       (5, "(hv.count(), hc.count())")]
    assert all(HISTORY.search(line) for line in history)
    assert not any(HISTORY.search(line) for line in facts)
