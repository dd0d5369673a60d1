"""End-to-end collector pipelines + dispatch (the reference's top-level API,
src/main.py + both data_collectors)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from nfl_data_engineering_spark.pipelines import (handler,
                                                  run_odds_collection,
                                                  run_rankings_collection)

PAYLOAD = [{
    "id": "g1", "commence_time": "2025-11-03T18:00:00Z",
    "home_team": "A", "away_team": "B",
    "bookmakers": [{"key": "bk", "markets": [
        {"key": "h2h", "outcomes": [
            {"name": "A", "price": -200, "point": None},
            {"name": "B", "price": 170, "point": None}]},
        {"key": "spreads", "outcomes": [
            {"name": "A", "price": -105, "point": -3.5},
            {"name": "B", "price": -115, "point": 3.5}]},
        {"key": "totals", "outcomes": [
            {"name": "Over", "price": -110, "point": 45.5},
            {"name": "Under", "price": -110, "point": 45.5}]},
    ]}],
}]


def test_odds_collection_idempotent(spark, tmp_path):
    path = str(tmp_path / "odds")
    t = dt.datetime(2025, 11, 1, 12)
    stats = run_odds_collection(spark, [json.dumps(PAYLOAD)], path, t)
    assert stats["rows_collected"] == 6 and stats["missing_markets"] == []
    # double run (the reference's idempotency guard) is a fixed point
    run_odds_collection(spark, [json.dumps(PAYLOAD)], path, t)
    back = spark.read.parquet(path)
    assert back.count() == 6
    assert set(back.columns) >= {"game_id", "book", "market", "outcome",
                                 "price", "point", "timestamp", "year", "month"}


def test_rankings_collection_keeps_latest(spark, tmp_path):
    path = str(tmp_path / "rankings")
    registry = spark.createDataFrame(
        [("rankings", "predictive", "http://x", "Rating", "")],
        "category string, table_name string, base_url string, cols_to_keep string, record_cols string")

    def mk_fetcher(rating):
        def fetch(category, table_name, base_url, date):
            import pandas as pd
            return pd.DataFrame({"Team": ["Bears"], "Rating": [rating]})
        return fetch

    t1, t2 = dt.datetime(2025, 11, 1, 8), dt.datetime(2025, 11, 1, 20)
    run_rankings_collection(spark, registry, "2025-11-03", mk_fetcher("10.0"),
                            path, t1, num_tasks=2)
    run_rankings_collection(spark, registry, "2025-11-03", mk_fetcher("12.5"),
                            path, t2, num_tasks=2)
    out = spark.read.parquet(path).collect()
    # same (team, date, metric) re-collected -> newest timestamp wins
    assert len(out) == 1
    assert out[0]["value"] == "12.5"
    assert out[0]["timestamp"] == t2
    # the declared (year, month) of the stamp leaves the row as it was
    assert out[0].asDict() == {
        "team": "Bears", "date": dt.date(2025, 11, 3),
        "metric": "rankings_predictive_rating", "value": "12.5",
        "timestamp": t2, "year": 2025, "month": 11}


def _payload_without(market):
    games = json.loads(json.dumps(PAYLOAD))
    for bk in games[0]["bookmakers"]:
        bk["markets"] = [m for m in bk["markets"] if m["key"] != market]
    return json.dumps(games)


def test_odds_collection_reports_missing_market(spark, tmp_path):
    stats = run_odds_collection(spark, [_payload_without("totals")],
                                str(tmp_path / "odds"),
                                dt.datetime(2025, 11, 1, 12))
    assert stats["missing_markets"] == ["totals"]
    assert stats["rows_collected"] == 4


def test_odds_collection_empty_payload(spark, tmp_path):
    """An empty snapshot reports every market missing, both into a new
    table and into a month that already holds rows (which it keeps)."""
    path = str(tmp_path / "odds")
    t = dt.datetime(2025, 11, 1, 12)
    empty = {"rows_collected": 0,
             "missing_markets": ["h2h", "spreads", "totals"],
             "table_path": path}
    assert run_odds_collection(spark, ["[]"], path, t) == empty
    run_odds_collection(spark, [json.dumps(PAYLOAD)], path, t)
    assert run_odds_collection(spark, [], path, t) == empty
    assert spark.read.parquet(path).count() == 6


def test_odds_collection_job_count(spark, tmp_path, jobs_submitted):
    """The coverage check and the partition set ride the write: a repeat
    snapshot into an existing month is the write plus one schema read of
    that month, and a new month is the write alone."""
    path = str(tmp_path / "odds")
    payload = json.dumps(PAYLOAD)
    nov, dec = dt.datetime(2025, 11, 1, 12), dt.datetime(2025, 12, 1, 12)
    run_odds_collection(spark, [payload], path, nov)
    again = jobs_submitted("odds_existing_month",
                           lambda: run_odds_collection(spark, [payload],
                                                       path, nov))
    fresh = jobs_submitted("odds_new_month",
                           lambda: run_odds_collection(spark, [payload],
                                                       path, dec))
    assert 1 <= again <= 3, again
    assert 1 <= fresh <= 2, fresh
    assert spark.read.parquet(path).count() == 12


def test_handler_dispatch_and_backfill_date(spark, tmp_path):
    seen = {}

    def fake_collector(s, run_dt):
        seen["dt"] = run_dt
        return {"ok": True}

    out = handler(spark, {"collectors_to_run": ["odds"],
                          "date": "2024-11-18T00:00:00"},
                  {"odds": fake_collector})
    assert out == {"odds": {"ok": True}}
    assert seen["dt"] == dt.datetime(2024, 11, 18)   # explicit backfill date
    # unknown names are skipped with a warning and the REMAINING
    # collectors still run — the reference guards with `if collector in
    # eligible_collectors` and silently drops them (src/main.py:38-40)
    with pytest.warns(UserWarning, match="unknown collector 'nope'"):
        out = handler(spark, {"collectors_to_run": ["nope", "odds"]},
                      {"odds": fake_collector})
    assert out == {"odds": {"ok": True}}
    # no collectors -> no-op, mirroring an empty event
    assert handler(spark, {}, {"odds": fake_collector}) == {}


def test_run_datetime_central_rule(spark, tmp_path):
    """The reference's US/Central run-timestamp rule (src/main.py:27-35),
    mirrored: a dateless run near midnight UTC
    stamps CENTRAL wall time — so it lands in the previous Central
    year/month partition, not the UTC one — while an explicit backfill
    date is taken as-is (localized, never shifted)."""
    from nfl_data_engineering_spark.pipelines import resolve_run_datetime

    # 2024-12-01T03:30Z is 2024-11-30 21:30 US/Central (CST, UTC-6):
    # the reference stamps November; a raw now-UTC stamp would say December
    run_dt = resolve_run_datetime(
        None, now_utc=dt.datetime(2024, 12, 1, 3, 30,
                                  tzinfo=dt.timezone.utc))
    assert run_dt == dt.datetime(2024, 11, 30, 21, 30)
    # DST side (CDT, UTC-5): 2025-07-01T04:30Z -> 2025-06-30 23:30
    assert resolve_run_datetime(
        None, now_utc=dt.datetime(2025, 7, 1, 4, 30,
                                  tzinfo=dt.timezone.utc)
    ) == dt.datetime(2025, 6, 30, 23, 30)
    # explicit backfill: wall clock preserved ("don't shift to previous
    # day" — main.py:29-31), whatever the runner's clock says
    assert resolve_run_datetime("2024-11-18") == dt.datetime(2024, 11, 18)

    # and the partition the near-midnight run actually lands in:
    path = str(tmp_path / "odds_tz")
    stats = run_odds_collection(spark, [json.dumps(PAYLOAD)], path, run_dt)
    assert stats["rows_collected"] == 6
    parts = (spark.read.parquet(path).select("year", "month")
             .distinct().collect())
    assert [(r["year"], r["month"]) for r in parts] == [(2024, 11)]
