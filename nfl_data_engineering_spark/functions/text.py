"""Text-analysis functions: tokenization, shingling, language ID,
fingerprinting (the ppm quality features live in plans/textops.py).

Generalizes the reference's string-cleaning surface (SURVEY.md §2.2 T3-T5,
§2.7) into the text ops a training-data pipeline needs. Everything is
builtin column expressions (WholeStageCodegen) — no Python in the hot path —
and deterministic so the DuckDB oracle can mirror it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .hashing import MERSENNE_P, h60

WORD_RE = r"[A-Za-z0-9']+"
# Marker-word tables for the n-gram/stopword language heuristic. Scoring is
# count-of-hits per language; deterministic tie-break by language code.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "que"],
    "de": ["der", "die", "und", "das", "nicht", "ein", "ist", "zu"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1"],
}
STOPWORDS = LANG_MARKERS["en"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization, lowercased, empties dropped."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def regex_token_count(col: Column) -> Column:
    """BPE-ish token proxy: count of word-regex matches (the 'how many
    tokens will the tokenizer see' estimator)."""
    return F.size(F.regexp_extract_all(col, F.lit(WORD_RE), 0))


def shingles(tok_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array (distinct not applied here).

    element_at is O(1) per lookup, so the whole shingle array is O(tokens);
    the slice-based formulation is O(tokens^2) and measurably slower on
    long documents.

    Documents with fewer than ``n`` tokens yield an empty array. The guard
    matters: Spark's ``sequence(1, 0)`` is DESCENDING [1, 0] (unlike SQL
    generate_series, which is empty), so the unguarded form indexes past the
    token array and throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on short docs.
    """
    idx = F.when(F.size(tok_col) >= n,
                 F.sequence(F.lit(1), F.size(tok_col) - (n - 1))
                 ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(tok_col, i + k) for k in range(n)]))


def _spread(df: DataFrame, id_col: str, repartition: bool) -> DataFrame:
    """Pre-partition documents by id before CPU-heavy explodes.

    Shuffling the (small) raw docs instead of the (large) exploded rows:
    every downstream per-doc groupBy/dropDuplicates then satisfies its
    required distribution from this partitioning and skips its own shuffle —
    and locally it breaks the one-file-one-task bottleneck.
    """
    return df.repartition(F.col(id_col)) if repartition else df


def explode_shingles(df: DataFrame, id_col: str, text_col: str,
                     n: int = 3, distinct: bool = True,
                     repartition: bool = True) -> DataFrame:
    """(id, text) -> (id, shingle) rows; set semantics when ``distinct``.

    The token array is materialized as its own projection first: passing the
    split() expression straight into shingles() would inline it once per
    element_at reference and re-tokenize the document per shingle position
    (measured ~10x slowdown). A named column is computed once per row.
    """
    out = (_spread(df, id_col, repartition)
           .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
           .select(F.col(id_col),
                   F.explode(shingles(F.col("__toks"), n)).alias("shingle")))
    return out.dropDuplicates([id_col, "shingle"]) if distinct else out


def explode_shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                           n: int = 3, repartition: bool = True,
                           out_col: str = "sh60") -> DataFrame:
    """(id, text) -> (id, sh60) distinct hashed-shingle rows.

    The shingle set is reduced to 60-bit hashes *inside the row*
    (transform + array_distinct) before the explode, so within-doc dedup is
    row-local — zero shuffle, versus dropDuplicates' full shuffle of shingle
    strings (measured 5x faster at sf0.1, and the gap grows with data:
    the exploded string form is the single largest shuffle in the naive
    near-dedup plan). Downstream joins/groupBys key on int64.

    Oracle twin: ``SELECT DISTINCT doc_id, h60(shingle) FROM <shingles>``.
    """
    sh_hashed = F.array_distinct(
        F.transform(shingles(F.col("__toks"), n), lambda s: h60(s)))
    return (_spread(df, id_col, repartition)
            .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
            .select(F.col(id_col), F.explode(sh_hashed).alias(out_col)))


def shingle_hash_arrays(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, repartition: bool = True,
                        out_col: str = "sh_arr") -> DataFrame:
    """(id, text) -> (id, sh_arr) — ONE row per document carrying its
    DISTINCT 60-bit shingle-hash set as array<bigint>, i.e. the
    pre-explode form of :func:`explode_shingle_hashes` (same transform +
    array_distinct chain, so ``explode(sh_arr)`` reproduces that
    function's rows exactly).

    This is the row-local form of the jaccard families (shuffle and
    aggregate row counts drop from |shingle rows| to |docs|): downstream
    per-doc work that previously exploded and re-aggregated runs ROW-LOCALLY on
    the array instead — MinHash minima via array_min/transform
    (hashing.minhash_bands_arrays), set sizes via size(sh_arr), and the
    exact-jaccard verification of a candidate pair via size(array_intersect(a1,
    a2)) — no explode, no (doc)-keyed aggregation, no per-pair intersection
    groupBy, and the size-lookup joins disappear (measured at sf0.1: build 0.49
    s vs the exploded build's 0.67 s; bands 0.36 s vs 0.66 s; verify tail 0.24
    s vs 0.61 s — identical outputs). Consumers that genuinely need per-shingle
    rows (document frequency, the df-capped self-join family, the OPH slot
    groupBy) derive them with one row-local ``select(explode(sh_arr))`` over
    the cached arrays — paying the explode, but never re-tokenizing or
    re-hashing.

    Scale note: a row's array is bounded by its document's distinct
    shingle count — the same per-row payload class as the ``text``
    column itself, so nothing here changes the engine's row-size
    envelope at 100 TB. Empty docs keep a row with an empty array
    (the explode form would drop them); array consumers filter
    ``size(sh_arr) > 0`` where the no-shingle contract matters.
    """
    sh_hashed = F.array_distinct(
        F.transform(shingles(F.col("__toks"), n), lambda s: h60(s)))
    return (_spread(df, id_col, repartition)
            .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
            .select(F.col(id_col), sh_hashed.alias(out_col)))


def explode_tokens(df: DataFrame, id_col: str, text_col: str,
                   with_pos: bool = False, repartition: bool = True) -> DataFrame:
    src = (_spread(df, id_col, repartition)
           .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks")))
    if with_pos:
        return src.select(F.col(id_col),
                          F.posexplode(F.col("__toks")).alias("pos", "token"))
    return src.select(F.col(id_col), F.explode(F.col("__toks")).alias("token"))


def lang_score(col: Column, lang: str) -> Column:
    """Count of ``lang`` marker-word hits in a token array column."""
    markers = F.lit(list(LANG_MARKERS[lang]))
    return F.size(F.filter(col, lambda t: F.array_contains(markers, t)))


def lang_id_expr(text_col: Column) -> Column:
    """Expression form of lang_id (pure Catalyst, SQL-mirrorable 1:1):
    pick the language with the most marker hits; deterministic tie-break
    on (score desc, code asc); 'und' when nothing matches. Catalyst
    evaluates the higher-order filters interpreted per element — 5 langs
    x tokens x 8 markers per doc, measured 26.4 s for 50k docs — so the
    default lang_id below is an Arrow kernel computing the identical
    function (equality proven in tests/test_text_functions.py); this
    form remains for SQL-only contexts."""
    toks = tokens(text_col)
    scored = F.array(*[
        F.struct(lang_score(toks, code).alias("score"),
                 F.lit(code).alias("code"))
        for code in sorted(LANG_MARKERS)])
    max_score = F.array_max(F.transform(scored, lambda s: s.score))
    winner = F.array_min(F.filter(scored, lambda s: s.score == max_score).code)
    return F.when(max_score > 0, winner).otherwise(F.lit("und"))


def lang_id(text_col: Column) -> Column:
    """Marker-hit language id, Arrow-kernel evaluation (same function as
    lang_id_expr: tokens = lower + split \\s+ + drop empties; score =
    count of marker-word occurrences per language; winner = max score
    with (score desc, code asc) tie-break; 'und' on zero hits or NULL
    text). One vectorized pass with set lookups — ~50x the interpreted
    higher-order-filter form on replica corpora."""
    import re

    import pandas as pd

    marker_sets = [(code, frozenset(LANG_MARKERS[code]))
                   for code in sorted(LANG_MARKERS)]
    # re.ASCII: Python's default \s is Unicode-wide (U+00A0, U+2028, ...)
    # while Java's \s — the Spark expression form — is ASCII-only
    # [ \t\n\x0B\f\r]; the ASCII flag makes both identical (tested with a
    # U+00A0 row in test_text_functions.py). DuckDB's RE2 \s differs from
    # Java only on \x0B — a character the corpus contract excludes.
    ws = re.compile(r"\s+", re.ASCII)

    def kernel(s):
        out = []
        for text in s:
            if text is None:
                out.append("und")
                continue
            toks = [t for t in ws.split(text.lower()) if t]
            best_code, best_score = "und", 0
            for code, words in marker_sets:
                sc = 0
                for t in toks:
                    if t in words:
                        sc += 1
                if sc > best_score:
                    best_code, best_score = code, sc
            out.append(best_code)
        return pd.Series(out, dtype=object)

    kernel.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(kernel, "string")(text_col)


def doc_fingerprint(df: DataFrame, id_col: str, text_col: str,
                    out_col: str = "fingerprint") -> DataFrame:
    """Position-sensitive document fingerprint (rolling-hash flavor).

    term(pos, tok) = (h60(tok) mod P) * ((pos * 2654435761) mod P + 1) mod P,
    folded with bit_xor. Position-sensitive (reordered docs differ), bounded
    (< 2^31 per term), and reproducible in the oracle. One explode + one
    groupBy, map-side partial xor.
    """
    toked = explode_tokens(df, id_col, text_col, with_pos=True)
    term = ((h60(F.col("token")) % MERSENNE_P)
            * ((F.col("pos") * F.lit(2654435761)) % MERSENNE_P + 1)) % MERSENNE_P
    return (toked.select(F.col(id_col), term.alias("__t"))
            .groupBy(id_col)
            .agg(F.bit_xor("__t").alias(out_col)))
