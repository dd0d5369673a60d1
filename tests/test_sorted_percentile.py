"""The sorted-array exact-percentile kernel: bit-identical to
Spark's `percentile()` aggregate, including interpolation arithmetic,
null handling and empty-group semantics."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from nfl_data_engineering_spark.plans.relational import (
    percentile_from_sorted, sorted_group_vals)

PROBS = [0.0, 0.05, 0.25, 0.5, 0.9, 0.99, 1.0]


def _hex(x):
    return None if x is None else struct.pack(">d", x).hex()


def test_bitwise_matches_percentile_aggregate(spark):
    # adversarial values: ties, negatives, ulp-sensitive interpolation
    rows = [("a", v) for v in [1.1, 2.2, 2.2, 3.14159, -7.5, 0.1, 99.9,
                               1e-12, 123456.789, 2.2]] \
        + [("b", v) for v in [5.0]] \
        + [("c", v) for v in [1.0, 2.0]] \
        + [("d", None), ("d", 4.25), ("d", None), ("d", -0.75)]
    df = spark.createDataFrame(rows, "g string, v double")
    probs_sql = ", ".join(str(p) for p in PROBS)
    ref = {r["g"]: r["ps"] for r in df.groupBy("g").agg(
        F.expr(f"percentile(v, array({probs_sql}))").alias("ps")).collect()}
    got = {r["g"]: [r[f"p{i}"] for i in range(len(PROBS))]
           for r in (df.groupBy("g")
                     .agg(sorted_group_vals(F.col("v")).alias("a"))
                     .select("g", *[percentile_from_sorted("a", p)
                                    .alias(f"p{i}")
                                    for i, p in enumerate(PROBS)])
                     .collect())}
    for g in ref:
        assert [_hex(x) for x in ref[g]] == [_hex(x) for x in got[g]], g


def test_all_null_group_yields_null(spark):
    df = spark.createDataFrame([("a", None), ("a", None)], "g string, v double")
    row = (df.groupBy("g").agg(sorted_group_vals(F.col("v")).alias("a"))
           .select(percentile_from_sorted("a", 0.5).alias("p")).collect())
    assert row[0]["p"] is None
