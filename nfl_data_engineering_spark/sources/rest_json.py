"""Odds REST-JSON source: nested payload -> flat 9-column odds table.

Re-expresses the reference's 4-level flattening loop
(src/data_clients/odds/get_odds.py:44-59) as three chained explodes over
ArrayType(StructType) columns — one narrow projection pipeline, fully
codegen'd, no Python row loop. The exact 9-column output contract is the
one asserted by the reference's tests (test/test_odds_collector.py:170-172).
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import (Column, DataFrame, SparkSession, functions as F,
                         types as T)

# Odds raw (nested, pre-flatten): the 4-level JSON the odds API returns —
# game -> bookmakers -> markets -> outcomes (get_odds.py:44-59). We keep the
# nested form as a first-class type and flatten with explode (operators T1).
ODDS_RAW = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("commence_time", T.StringType()),
    T.StructField("home_team", T.StringType()),
    T.StructField("away_team", T.StringType()),
    T.StructField("bookmakers", T.ArrayType(T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("markets", T.ArrayType(T.StructType([
            T.StructField("key", T.StringType()),
            T.StructField("outcomes", T.ArrayType(T.StructType([
                T.StructField("name", T.StringType()),
                T.StructField("price", T.LongType()),
                T.StructField("point", T.DoubleType()),
            ]))),
        ]))),
    ]))),
])

EXPECTED_MARKETS = ("h2h", "spreads", "totals")


def odds_from_json_strings(spark: SparkSession, payloads: list[str]) -> DataFrame:
    """Parse raw API response strings (one JSON array each) into the nested
    ODDS_RAW shape. Multiple payloads union by name (the us + us2 regions
    pattern, get_odds.py:89)."""
    rows = []
    for p in payloads:
        rows.extend(json.loads(p))
    return spark.createDataFrame(rows, schema=ODDS_RAW)


def flatten_odds(raw: DataFrame) -> DataFrame:
    """T1: game -> bookmakers -> markets -> outcomes triple explode, parent
    attributes carried along; `point` null-filled to 0.0 (get_odds.py:61)."""
    return (raw
            .select(F.col("id").alias("game_id"),
                    F.col("commence_time").alias("game_time"),
                    "home_team", "away_team",
                    F.explode("bookmakers").alias("bk"))
            .select("game_id", "game_time", "home_team", "away_team",
                    F.col("bk.key").alias("book"),
                    F.explode("bk.markets").alias("mk"))
            .select("game_id", "game_time", "home_team", "away_team", "book",
                    F.col("mk.key").alias("market"),
                    F.explode("mk.outcomes").alias("oc"))
            .select("game_id", "game_time", "home_team", "away_team", "book",
                    "market",
                    F.col("oc.name").alias("outcome"),
                    F.col("oc.price").alias("price"),
                    F.coalesce(F.col("oc.point"), F.lit(0.0)).alias("point")))


def market_counts() -> list[Column]:
    """A4: expected-markets completeness check (get_odds.py:74-77), as one
    row count per expected market. Aggregates for ``DataFrame.observe``, so
    the check rides the job that writes the snapshot; read the result
    with ``missing_markets``."""
    return [F.count_if(F.col("market") == m).alias(m)
            for m in EXPECTED_MARKETS]


def missing_markets(counts: dict) -> list[str]:
    """The expected markets with no row, from ``market_counts`` values."""
    return sorted(m for m in EXPECTED_MARKETS if not counts[m])


def wall_clock_ts(collected_at: dt.datetime):
    """A timestamp literal that preserves ``collected_at``'s WALL CLOCK
    under the session timezone. ``F.lit(naive datetime)`` converts to
    internal micros via the DRIVER-PROCESS zone, while ``year()/month()``
    partition extraction uses ``spark.sql.session.timeZone`` — when the
    two differ, a near-midnight run can land in the wrong year/month
    partition. A string literal parsed by ``to_timestamp``
    is interpreted in the session zone only, so stamp and extraction
    always agree."""
    return F.to_timestamp(
        F.lit(collected_at.strftime("%Y-%m-%d %H:%M:%S.%f")))


def build_odds_snapshot(raw: DataFrame, collected_at: dt.datetime) -> DataFrame:
    """Full ingest transform: flatten + stamp collection timestamp (T7,
    odds_data_collector.py:25). Pair with io.upsert_partitioned(key_cols=None)
    for the reference's append + full-row-dedup write (odds_data_collector.py:30-51)."""
    return flatten_odds(raw).withColumn(
        "timestamp", wall_clock_ts(collected_at))
