"""Unit tests for operators/: the schema-contract + dirty-input styles the
reference uses (SURVEY.md §5), upgraded with explicit edge cases."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nfl_data_engineering_spark.operators.clean import (clean_string,
                                                        coerce_types,
                                                        pct_to_fraction)
from nfl_data_engineering_spark.operators.dedup import (dedup_full_row,
                                                        dedup_keep_latest)
from nfl_data_engineering_spark.operators.joins import (asof_join,
                                                        matchup_join,
                                                        pivot_wide)
from nfl_data_engineering_spark.operators.records import split_record
from nfl_data_engineering_spark.operators.timeseries import zero_filled_counts
from nfl_data_engineering_spark.operators.windows import (exp_weighted_mean,
                                                          topk_per_group,
                                                          topk_per_group_salted)


def test_salted_topk_matches_plain_on_skewed_keys(spark):
    # one hot key with 5000 rows, several cold keys; any total order
    rows = [(0, i, float((i * 37) % 1000)) for i in range(5000)]
    rows += [(g, i, float(i % 97)) for g in range(1, 6) for i in range(20)]
    df = spark.createDataFrame(rows, "g int, i int, v double")
    order = [F.col("v").desc(), F.col("i").asc()]
    plain = {(r["g"], r["rnk"]): r["i"]
             for r in topk_per_group(df, ["g"], order, k=3, rank_col="rnk").collect()}
    salted = {(r["g"], r["rnk"]): r["i"]
              for r in topk_per_group_salted(df, ["g"], order, k=3,
                                             salt_buckets=8).collect()}
    assert plain == salted and len(plain) == 6 * 3


def test_connected_components_chain_cycle_pair(spark):
    from nfl_data_engineering_spark.operators.dedup import connected_components
    # chain 1-2-3-4-5 (diameter 4 -> multiple propagation rounds),
    # cycle 10-11-12-10, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (12, 10),
         (20, 21)], "a long, b long")
    out = {r["n"]: r["label"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_connected_components_distributed_path(spark, monkeypatch):
    # force the distributed min-label loop (cap=0 disables the driver
    # union-find fast path) and require bit-identical labels on the same
    # chain/cycle/pair graph — the two code paths must agree exactly
    from nfl_data_engineering_spark.operators import dedup as D
    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_CAP", 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (12, 10),
         (20, 21)], "a long, b long")
    out = {r["n"]: r["label"]
           for r in D.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_clean_string_sentinels(spark):
    # the 7 problematic-value classes from test_s3_data_type_handling.py
    df = spark.createDataFrame(
        [("ok",), ("",), ("--",), ("None",), ("nan",), ("<NA>",), ("+3.5",)],
        "v string")
    out = [r["c"] for r in df.select(clean_string(F.col("v")).alias("c")).collect()]
    assert out == ["ok", None, None, None, None, None, "3.5"]


def test_pct_to_fraction(spark):
    df = spark.createDataFrame([("75.5%",), ("0.3",), ("100%",)], "v string")
    out = [r["c"] for r in df.select(pct_to_fraction(F.col("v")).alias("c")).collect()]
    assert out == [0.755, 0.3, 1.0]


def test_coerce_types_named_regression(spark):
    # offense_scoring_ep_pcnt_last3 regression from
    # test_s3_data_type_handling.py:128-146: ['50%', '', '75.5%'] -> numeric
    df = spark.createDataFrame([("50%",), ("",), ("75.5%",)],
                               "offense_scoring_ep_pcnt_last3 string")
    schema = T.StructType([T.StructField("offense_scoring_ep_pcnt_last3",
                                         T.DoubleType())])
    out = [r[0] for r in coerce_types(df, schema).collect()]
    assert out == [0.5, None, 0.755]


def test_split_record(spark):
    df = spark.createDataFrame([("3-1",), ("2-1-1",), ("--",)], "rec string")
    out = split_record(df, "rec", prefix="r").collect()
    assert (out[0]["r_wins"], out[0]["r_losses"], out[0]["r_ties"],
            out[0]["r_games_played"]) == (3, 1, 0, 4)
    assert (out[1]["r_wins"], out[1]["r_ties"], out[1]["r_games_played"]) == (2, 1, 4)
    assert out[2]["r_wins"] is None and out[2]["r_games_played"] is None


def test_dedup_full_row_idempotent(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k int, v string")
    assert dedup_full_row(df).count() == 2
    assert dedup_full_row(dedup_full_row(df)).count() == 2


def test_dedup_keep_latest(spark):
    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "x", t), (1, "y", t + dt.timedelta(hours=1)), (2, "z", t)],
        "k int, v string, timestamp timestamp")
    out = {r["k"]: r["v"] for r in dedup_keep_latest(df, ["k"]).collect()}
    assert out == {1: "y", 2: "z"}


def test_topk_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("g", 5, 1), ("g", 5, 2), ("g", 3, 3)], "grp string, v int, id int")
    out = topk_per_group(df, ["grp"], [F.col("v").desc(), F.col("id").desc()], k=1)
    r = out.collect()[0]
    assert (r["v"], r["id"]) == (5, 2)  # tie broken by id desc


def test_exp_weighted_mean_matches_closed_form(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(days=i), float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = exp_weighted_mean(df, ["k"], "ts", "v", decay=0.5, last_n=3).collect()[0]
    # newest first: v=3 w=1, v=2 w=.5, v=1 w=.25 (v=0 outside last_n)
    expected = (3 * 1 + 2 * 0.5 + 1 * 0.25) / (1 + 0.5 + 0.25)
    assert abs(out["ewm_value"] - expected) < 1e-12


def test_asof_join_at_and_before_semantics(spark):
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(hours=2)), (2, t0)],
        "user_id int, ts timestamp")
    right = spark.createDataFrame(
        [(1, t0, 10.0), (1, t0 + dt.timedelta(hours=1), 20.0)],
        "user_id int, ts timestamp, val double")
    out = asof_join(left, right, ["user_id"], "ts", "ts", ["val"])
    got = {(r["user_id"], r["ts"]): r["val_asof"] for r in out.collect()}
    assert got[(1, t0)] == 10.0                       # right row AT left ts visible
    assert got[(1, t0 + dt.timedelta(hours=2))] == 20.0  # latest before
    assert got[(2, t0)] is None                       # no right rows for key


def test_matchup_join_differentials(spark):
    games = spark.createDataFrame([("g1", "A", "B")],
                                  "game_id string, home string, road string")
    stats = spark.createDataFrame([("A", 10.0), ("B", 4.0)],
                                  "team string, score double")
    out = matchup_join(games, stats, "team", "home", "road", ["score"]).collect()[0]
    assert out["home_score"] == 10.0 and out["road_score"] == 4.0
    assert out["score_matchup_differential"] == 6.0


def test_pivot_wide(spark):
    df = spark.createDataFrame(
        [("A", "m1", 1.0), ("A", "m2", 2.0), ("B", "m1", 3.0)],
        "team string, metric string, value double")
    out = pivot_wide(df, ["team"], "metric", "value", ["m1", "m2"])
    got = {r["team"]: (r["m1"], r["m2"]) for r in out.collect()}
    assert got == {"A": (1.0, 2.0), "B": (3.0, None)}


def test_zero_filled_counts_has_gap_buckets(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 30)
    df = spark.createDataFrame(
        [(t0,), (t0 + dt.timedelta(hours=3),)], "ts timestamp")
    out = {r["bucket"]: r["n"] for r in zero_filled_counts(df, "ts").collect()}
    assert len(out) == 4  # hours 0..3 inclusive
    assert out[dt.datetime(2024, 1, 1, 1)] == 0
    assert out[dt.datetime(2024, 1, 1, 3)] == 1


def test_connected_components_mixed_key_types(spark):
    """Fast-path schema must come from the SYMMETRIZED (type-coerced)
    frame: int src + bigint dst widens through the explode coercion, and
    collected values can exceed the src column's type.
    Both paths must return the same widened schema and labels."""
    from pyspark.sql import functions as F

    from nfl_data_engineering_spark.operators import dedup as D
    big = 3_000_000_000  # > 2^31-1: overflows IntegerType
    edges = (spark.createDataFrame([(1, big), (2, 3)], "a: int, b: long")
             .select(F.col("a").cast("int"), F.col("b").cast("long")))
    out = D.connected_components(edges)
    assert dict(out.dtypes)["label"] == "bigint"
    labels = {r["n"]: r["label"] for r in out.collect()}
    assert labels[big] == 1 and labels[1] == 1
    assert labels[2] == 2 and labels[3] == 2


def test_connected_components_failure_releases_storage(spark, monkeypatch,
                                                        registry_ids):
    """A mid-loop failure must not leak the bidirectional-edge cache or
    live round checkpoints: force the distributed path, inject a failure
    at the first convergence collect, and assert the persistent registry
    returns to its pre-call state."""
    import pytest
    from pyspark.sql.classic.dataframe import DataFrame

    from nfl_data_engineering_spark.operators import dedup as D
    from nfl_data_engineering_spark.plans.base import release_deferred

    release_deferred()
    spark.catalog.clearCache()
    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_CAP", 0)
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "a: long, b: long")
    before = registry_ids()

    calls = {"n": 0}
    orig = DataFrame.collect

    def boom_on_first_round(self):
        # collect 1 is the capped edge read that picks the path; collect
        # 2 is the first convergence sum, run for real (the round's
        # checkpoint and the edge cache are filled) before it raises
        calls["n"] += 1
        out = orig(self)
        if calls["n"] == 2:
            raise RuntimeError("injected mid-loop failure")
        return out

    monkeypatch.setattr(DataFrame, "collect", boom_on_first_round)
    with pytest.raises(RuntimeError, match="injected"):
        D.connected_components(edges)
    monkeypatch.undo()
    assert calls["n"] == 2
    leaked = registry_ids() - before
    assert not leaked, f"mid-loop failure leaked registry ids: {leaked}"


def test_dedup_keep_latest_rn_column_collision(spark):
    """A pre-existing '__rn' input column must survive (a scratch
    row_number column named '__rn' would overwrite then drop it)."""
    df = spark.createDataFrame(
        [("k1", 1, "keep-me"), ("k1", 2, "keep-me-too")],
        "k: string, timestamp: long, __rn: string")
    out = dedup_keep_latest(df, ["k"])
    assert "__rn" in out.columns
    row = out.collect()[0]
    assert row["__rn"] == "keep-me-too" and row["timestamp"] == 2


def test_connected_components_label_sum_past_int64(spark, monkeypatch):
    """Pins the DECIMAL(38,0) convergence scalar at the magnitude that
    motivated it: three nodes with ids ~4e18 push the
    initial label sum past 2^63 in one round, where an int64 sum wraps
    and legacy-mode arithmetic could declare FALSE convergence. Green in
    both the driver fast path and the distributed min-label loop."""
    from nfl_data_engineering_spark.operators import dedup as D

    a, b, c = 4_000_000_000_000_000_000, 4_100_000_000_000_000_000, \
        4_200_000_000_000_000_000  # sum 12.3e18 > 2^63 ~ 9.22e18
    edges = spark.createDataFrame([(b, a), (c, b)], "a: long, b: long")
    expect = {a: a, b: a, c: a}

    fast = {r["n"]: r["label"]
            for r in D.connected_components(edges).collect()}
    assert fast == expect

    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_CAP", 0)
    dist = {r["n"]: r["label"]
            for r in D.connected_components(edges).collect()}
    assert dist == expect
