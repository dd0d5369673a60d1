"""Python Data Source API connector (sources/datasource.py): format
registration, partition-parallel payload flattening, predicate pushdown."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nfl_data_engineering_spark.sources.datasource import register_odds_source
from nfl_data_engineering_spark.sources.rest_json import (ODDS_FLAT,
                                                          flatten_odds,
                                                          odds_from_json_strings)


def _payload(game_id: str, team_a: str, team_b: str) -> list[dict]:
    return [{
        "id": game_id, "commence_time": "2025-11-03T18:00:00Z",
        "home_team": team_a, "away_team": team_b,
        "bookmakers": [{"key": "bk", "markets": [
            {"key": "h2h", "outcomes": [
                {"name": team_a, "price": -200, "point": None},
                {"name": team_b, "price": 170, "point": None}]},
            {"key": "totals", "outcomes": [
                {"name": "Over", "price": -110, "point": 45.5},
                {"name": "Under", "price": -110, "point": 45.5}]},
        ]}],
    }]


def test_odds_rest_format_matches_explode_pipeline(spark, tmp_path):
    us, us2 = _payload("g1", "A", "B"), _payload("g2", "C", "D")
    (tmp_path / "us.json").write_text(json.dumps(us))
    (tmp_path / "us2.json").write_text(json.dumps(us2))

    register_odds_source(spark)
    via_source = spark.read.format("odds_rest").option(
        "path", str(tmp_path)).load()

    raw = odds_from_json_strings(spark, [json.dumps(us), json.dumps(us2)])
    via_explode = flatten_odds(raw)

    # one flat schema (long price): a lake fed by either holds one type
    assert via_source.schema == via_explode.schema == ODDS_FLAT
    key = ["game_id", "book", "market", "outcome"]
    assert (sorted(map(tuple, via_source.collect()), key=lambda r: r[:6])
            == sorted(map(tuple, via_explode.collect()), key=lambda r: r[:6]))
    # one partition per payload file
    assert via_source.rdd.getNumPartitions() == 2


def test_both_readers_reject_a_decimal_price(spark, tmp_path):
    """A decimal-odds price (1.91) fails both readers instead of being
    truncated into the long ``price`` field."""
    us = _payload("g1", "A", "B")
    us[0]["bookmakers"][0]["markets"][0]["outcomes"][0]["price"] = 1.91
    (tmp_path / "us.json").write_text(json.dumps(us))
    with pytest.raises(Exception, match="price"):
        odds_from_json_strings(spark, [json.dumps(us)])
    register_odds_source(spark)
    with pytest.raises(Exception, match="not a whole number"):
        spark.read.format("odds_rest").option(
            "path", str(tmp_path)).load().collect()


def test_odds_rest_stream_incremental_exactly_once(spark, tmp_path):
    src = tmp_path / "feed"
    out = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    register_odds_source(spark)

    def run_batch():
        q = (spark.readStream.format("odds_rest").option("path", str(src))
             .load()
             .writeStream.format("parquet")
             .option("path", str(out)).option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    (src / "a.json").write_text(json.dumps(_payload("g1", "A", "B")))
    run_batch()
    assert spark.read.parquet(str(out)).count() == 4

    # second payload arrives; restart from checkpoint -> only new rows land
    (src / "b.json").write_text(json.dumps(_payload("g2", "C", "D")))
    run_batch()
    back = spark.read.parquet(str(out))
    assert back.count() == 8
    assert back.select("game_id").distinct().count() == 2
    # replaying with nothing new is a no-op (exactly-once)
    run_batch()
    assert spark.read.parquet(str(out)).count() == 8


def test_odds_rest_pushdown_filters(spark, tmp_path):
    (tmp_path / "us.json").write_text(json.dumps(_payload("g1", "A", "B")))
    register_odds_source(spark)
    df = (spark.read.format("odds_rest").option("path", str(tmp_path)).load()
          .filter((F.col("market") == "totals") & (F.col("price") < 0)))
    rows = df.collect()
    # market filter is pushed into the Python reader; price (non-pushable)
    # stays a Spark-side filter — both must still apply
    assert {r.market for r in rows} == {"totals"}
    assert all(r.price < 0 for r in rows) and len(rows) == 2
    assert {r.point for r in rows} == {45.5}
