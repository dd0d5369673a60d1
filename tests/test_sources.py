"""Connector adapters: odds JSON flatten contract, scraper fan-out,
multimodal plumbing."""

from __future__ import annotations

import datetime as dt
import json

import pandas as pd

from nfl_data_engineering_spark.sources.html_table import scrape_tables_long
from nfl_data_engineering_spark.sources.multimodal import (decode_features,
                                                           sample_frames,
                                                           synthesize_multimodal)
from nfl_data_engineering_spark.sources.rest_json import (build_odds_snapshot,
                                                          flatten_odds,
                                                          odds_from_json_strings)

SAMPLE_ODDS = [{
    "id": "game123",
    "commence_time": "2025-11-03T18:00:00Z",
    "home_team": "Team A", "away_team": "Team B",
    "bookmakers": [{
        "key": "bookx",
        "markets": [
            {"key": "h2h", "outcomes": [
                {"name": "Team A", "price": -200, "point": None},
                {"name": "Team B", "price": 170, "point": None}]},
            {"key": "totals", "outcomes": [
                {"name": "Over", "price": -110, "point": 45.5},
                {"name": "Under", "price": -110, "point": 45.5}]},
            {"key": "spreads", "outcomes": [
                {"name": "Team A", "price": -105, "point": -3.5},
                {"name": "Team B", "price": -115, "point": 3.5}]},
        ],
    }],
}]


def test_odds_flatten_nine_column_contract(spark):
    # the exact schema contract from test_odds_collector.py:170-172
    raw = odds_from_json_strings(spark, [json.dumps(SAMPLE_ODDS)])
    flat = flatten_odds(raw)
    assert flat.columns == ["game_id", "game_time", "home_team", "away_team",
                            "book", "market", "outcome", "price", "point"]
    rows = flat.collect()
    assert len(rows) == 6
    markets = {r["market"] for r in rows}
    assert markets == {"h2h", "spreads", "totals"}
    # h2h point null-filled to 0.0 (get_odds.py:61)
    h2h = [r for r in rows if r["market"] == "h2h"]
    assert all(r["point"] == 0.0 for r in h2h)
    totals = {r["outcome"] for r in rows if r["market"] == "totals"}
    assert totals == {"Over", "Under"}


def test_odds_snapshot_timestamp(spark):
    raw = odds_from_json_strings(spark, [json.dumps(SAMPLE_ODDS)])
    snap = build_odds_snapshot(raw, dt.datetime(2025, 11, 1, 12, 0, 0))
    assert snap.schema["timestamp"].dataType.typeName() == "timestamp"
    assert snap.count() == 6


def test_scraper_long_form(spark):
    # defined inside the test so cloudpickle ships it by value — workers
    # cannot import the tests package
    def _fake_fetch(category, table_name, base_url, date):
        return pd.DataFrame({
            "Team": ["Bears (3-1)", "Lions (2-2)"],
            "2025": ["55.5%", "44.1%"],
            "Last 3": ["12.0", "--"],
        })

    registry = spark.createDataFrame(
        [("rankings", "predictive", "http://x", "2025,Last 3", "")],
        "category string, table_name string, base_url string, cols_to_keep string, record_cols string")
    out = scrape_tables_long(registry, "2025-11-03", fetcher=_fake_fetch,
                             num_tasks=2)
    rows = out.collect()
    assert len(rows) == 4  # 2 teams x 2 kept cols
    metrics = {r["metric"] for r in rows}
    # {category}_{table}_{col} naming (team_rankings_scraper.py:190-194);
    # the lone year column renames to this_yr (:143-150)
    assert metrics == {"rankings_predictive_this_yr",
                       "rankings_predictive_last_3"}
    assert all(r["date"] == dt.date(2025, 11, 3) for r in rows)


def test_scraper_record_split_and_year_rename(spark):
    # record-marked column: W-L(-T) -> three long-form metrics
    # (team_rankings_scraper.py:48-82, :186); two year columns ->
    # this_yr/last_yr (:143-150)
    def _fake_fetch(category, table_name, base_url, date):
        return pd.DataFrame({
            "Team": ["Bears", "Lions", "Pack"],
            "Record": ["3-1", "2-1-1", "--"],
            "2025": ["8", "9", "10"],
            "2024": ["5", "6", "7"],
        })

    registry = spark.createDataFrame(
        [("rankings", "standings", "http://x", "Record,2025,2024", "Record")],
        "category string, table_name string, base_url string, "
        "cols_to_keep string, record_cols string")
    out = scrape_tables_long(registry, "2025-11-03", fetcher=_fake_fetch,
                             num_tasks=2)
    rows = out.collect()
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r["metric"], {})[r["team"]] = r["value"]
    assert set(by_metric) == {
        "rankings_standings_record_wins", "rankings_standings_record_losses",
        "rankings_standings_record_ties", "rankings_standings_this_yr",
        "rankings_standings_last_yr"}
    assert by_metric["rankings_standings_record_wins"]["Bears"] == "3"
    assert by_metric["rankings_standings_record_losses"]["Bears"] == "1"
    assert by_metric["rankings_standings_record_ties"]["Bears"] == "0"
    assert by_metric["rankings_standings_record_ties"]["Lions"] == "1"
    # non-matching record -> NULL across the board (split_record contract)
    assert by_metric["rankings_standings_record_wins"]["Pack"] is None
    assert by_metric["rankings_standings_this_yr"]["Lions"] == "9"
    assert by_metric["rankings_standings_last_yr"]["Pack"] == "7"


def test_multimodal_decode_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "abc")],
                                 "doc_id long, text string")
    mm = synthesize_multimodal(docs)
    assert mm.schema["payload"].dataType.typeName() == "binary"
    feats = decode_features(mm).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["payload_bytes"] == len(b"hello world")
    assert by_id[1]["feat_mean"] == sum(b"hello world") / len(b"hello world")
    assert len(by_id[1]["content_hash"]) == 32


def test_video_sampling_fans_out_per_frame(spark):
    # duration_ms=1000 @ every_ms=250 -> frames at 0/250/500/750; payload
    # is never re-emitted (narrow rows), hash is the deterministic fake
    import hashlib

    docs = spark.createDataFrame([(2, "xy")], "doc_id long, text string")
    rows = sample_frames(synthesize_multimodal(docs), every_ms=250).collect()
    assert [r["frame_ts_ms"] for r in rows] == [0, 250, 500, 750]
    assert rows[1]["frame_hash"] == hashlib.md5(b"xy#250").hexdigest()
    assert "payload" not in rows[0].asDict()


def test_video_sampling_respects_duration_grid(spark):
    docs = spark.createDataFrame([(2, "x")], "doc_id long, text string")
    rows = sample_frames(synthesize_multimodal(docs), every_ms=600).collect()
    # 1000 ms duration / 600 ms stride -> ts 0 and 600 only
    assert [r["frame_ts_ms"] for r in rows] == [0, 600]


def test_resize_fake_codec_is_byte_exact(spark):
    import hashlib

    from nfl_data_engineering_spark.sources.multimodal import resize_images

    docs = spark.createDataFrame([(3, "abc")], "doc_id long, text string")
    rows = resize_images(synthesize_multimodal(docs), 4, 2).collect()
    assert len(rows) == 1
    # plane = payload's md5 hex digest cycled to width*height bytes
    seed = hashlib.md5(b"abc").hexdigest().encode()
    assert bytes(rows[0]["payload"]) == seed[:8]
    assert (rows[0]["width"], rows[0]["height"]) == (4, 2)
