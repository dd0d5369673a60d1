"""Property-based tests for the dirty-string cleaning/coercion chain.

Upgrades the reference's table-driven dirty-input tests
(test/test_s3_data_type_handling.py:20-146) to hypothesis: arbitrary mixes
of the seven problematic value classes must coerce exactly like a Python
reference model of the declared semantics (strip '--'/'+', ''->NULL,
sentinel->NULL, '%'->/100, best-effort numeric parse, unparseable->NULL).
"""

from __future__ import annotations

import math
import re

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from nfl_data_engineering_spark.operators.clean import (NULL_SENTINELS,
                                                        clean_string,
                                                        coerce_types,
                                                        strip_parenthetical)

# ASCII-strict numeric gate: Spark's string->double parser accepts only
# ASCII digits (Python's float() would happily parse Unicode digits like
# '٠' — a divergence hypothesis found immediately).
_NUM_RE = re.compile(r"[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?",
                     re.ASCII)
_ASCII_WS = " \t\r\n\f\v"


def model_coerce_double(v: str | None) -> float | None:
    """Python twin of coerce_types for a string -> double column."""
    if v is None:
        return None
    x = None if v == "--" else re.sub(r"^\+", "", v, count=1)
    if x == "" or x in NULL_SENTINELS or x is None:
        return None
    if x.endswith("%"):
        base = x[:-1].strip(_ASCII_WS)
        return float(base) / 100 if _NUM_RE.fullmatch(base) else None
    xs = x.strip(_ASCII_WS)
    return float(xs) if _NUM_RE.fullmatch(xs) else None


# Printable ASCII minus tokens whose parse differs between engines by spec
# (Spark's double parser accepts Infinity/NaN words; the model gates with a
# numeric regex). Everything else — including '_'-separated digits, hex,
# doubled signs — must agree.
_plain = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    max_size=12).filter(lambda s: not re.search(r"inf|nan", s, re.I))

dirty_value = st.one_of(
    st.none(),
    st.sampled_from(["--", "", *NULL_SENTINELS]),
    st.from_regex(r"\+?[0-9]{1,6}(\.[0-9]{1,4})?%?", fullmatch=True),
    st.from_regex(r"[+-]?[0-9]{1,4}([eE][+-]?[0-9]{1,2})?", fullmatch=True),
    st.sampled_from(["++5", "5%%", " 42 ", "12.", ".5", "1_000", "0x1A",
                     "- 5", "%", "+%", "+"]),
    _plain,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(dirty_value, min_size=1, max_size=40))
def test_coerce_double_matches_model(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i int, v string")
    target = T.StructType([T.StructField("i", T.IntegerType()),
                           T.StructField("v", T.DoubleType())])
    got = {r["i"]: r["v"] for r in coerce_types(df, target).collect()}
    for i, v in enumerate(values):
        want = model_coerce_double(v)
        g = got[i]
        if want is None or g is None:
            assert g is None and want is None, (v, g, want)
        elif math.isinf(want) or math.isinf(g):
            assert g == want, (v, g, want)
        else:
            assert abs(g - want) <= 1e-12 * max(1.0, abs(want)), (v, g, want)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(dirty_value, min_size=1, max_size=30))
def test_clean_string_is_idempotent(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i int, v string")
    once = df.select("i", clean_string(F.col("v")).alias("c"))
    twice = once.select("i", clean_string(F.col("c")).alias("c"))
    a = {r["i"]: r["c"] for r in once.collect()}
    b = {r["i"]: r["c"] for r in twice.collect()}
    # cleaning is a projection to the clean domain: applying it again only
    # re-strips a leading '+' that the first pass uncovered — which the
    # composite chain tolerates by design (reference strips symbols once)
    for k in a:
        if a[k] is not None and a[k].startswith("+"):
            continue
        assert a[k] == b[k], (values[k], a[k], b[k])


def test_coerce_types_missing_column_and_passthrough(spark):
    df = spark.createDataFrame([("x", 1)], "s string, n int")
    target = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("absent", T.DoubleType()),
    ])
    out = coerce_types(df, target)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string", "bigint", "double"]
    row = out.collect()[0]
    assert row["s"] == "x" and row["n"] == 1 and row["absent"] is None


def test_strip_parenthetical_drops_record_suffix(spark):
    # T4: the rankings pages append ' (W-L-T)' to team names
    df = spark.createDataFrame(
        [(0, "Lions (9-8)"), (1, "Green Bay (10-6-1)"), (2, "Lions"),
         (3, "San Francisco"), (4, None)], "i int, v string")
    got = {r["i"]: r["c"] for r in
           df.select("i", strip_parenthetical(F.col("v")).alias("c"))
           .collect()}
    assert got == {0: "Lions", 1: "Green Bay", 2: "Lions",
                   3: "San Francisco", 4: None}
