"""Connector / sink roundtrip query catalog (SURVEY.md §2.1 S-ops).

Sources and sinks are library surface (sources/, streaming/, io.py), but the
sink paths are exercised here as REAL queries: write through the engine's
writer, read back through the engine's reader, aggregate, and hash-match a
DuckDB oracle computed over the original input. That proves the storage
layer (partition layout, dynamic-overwrite upsert, type fidelity) end to
end, not just in unit tests.

The network-bound sources (S1 REST, S2 HTML scraper) run on deterministic
in-process payloads — a literal odds JSON and an injected fetcher — and are
rows-only entries (no meaningful SQL oracle for connector plumbing; the
driver records the weaker check, schema + row count).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import h60_sql
from ..io import upsert_partitioned
from ..sources.html_table import scrape_tables_long
from ..sources.rest_json import flatten_odds, odds_from_json_strings
from ..localdf import local_df
from ..storage import pin
from .base import QueryDef, load, scratch_dir


# ---------------------------------------------------------------------------
# S4/S5/S6 + A1: partitioned-parquet upsert roundtrip
# ---------------------------------------------------------------------------

def q_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events through the upsert writer in two overlapping batches
    (months <= 6, then everything), read the table back, aggregate per
    partition year/month. The overlap is collapsed by the full-row dedup
    idempotency guard (odds_data_collector.py:40-44 semantics), so the
    readback equals the source — which is what the oracle checks. Exercises
    S5 parquet sink, S6 hive partition derivation, dynamic partition
    overwrite, and S4 readback in one query."""
    path = scratch_dir("upsert", sf_dir)
    # the source is scanned by both batches' writes plus the second
    # call's touched-partition probe — cache it for the entry's duration
    # (in-query cache, pinned until the next entry starts: 3 rescans saved)
    ev = pin(load(spark, sf_dir, "events")
             .withColumnRenamed("ts", "timestamp"))
    first = ev.filter(F.month("timestamp") <= 6)
    upsert_partitioned(spark, first, path, key_cols=None, ts_col="timestamp")
    upsert_partitioned(spark, ev, path, key_cols=None, ts_col="timestamp")
    back = spark.read.parquet(path)
    return (back.groupBy("year", "month")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("sum_value")))


ORACLE_UPSERT_ROUNDTRIP = """
SELECT year(ts)::INTEGER AS year, month(ts)::INTEGER AS month,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# S9: CSV sink roundtrip
# ---------------------------------------------------------------------------

def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink (box_score_cllector.py:38 analog) + schema'd readback.
    Java's Double.toString round-trips exactly, so the value sums are
    bit-identical to the source — the oracle aggregates the original
    parquet."""
    path = scratch_dir("csv", sf_dir)
    ev = load(spark, sf_dir, "events")
    (ev.select("event_id", "user_id", "event_type", "value")
     .write.mode("overwrite").option("header", "true").csv(path))
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).option("header", "true").csv(path)
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("event_id").alias("sum_event_id"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("sum_value")))


ORACLE_CSV_ROUNDTRIP = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# S3/S10: Excel sink + source roundtrip (self-contained OOXML codec)
# ---------------------------------------------------------------------------

def q_xlsx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 then S3: aggregate events, export to .xlsx via the
    driver-side Excel sink (team_rankings_scraper.py:251 analog), read the
    workbook back through the Excel registry-source path, and re-aggregate.
    The .xlsx codec is the self-contained OOXML implementation in
    sources/tabular.py (no external engine in this container); integer
    sums ride through the spreadsheet as numeric cells, doubles as decimal
    strings rendered by repr — both round-trip exactly, so the readback
    matches the oracle's direct aggregation of the source parquet."""
    from ..sources.tabular import read_xlsx_pandas, write_excel
    path = scratch_dir("xlsx", sf_dir) + ".xlsx"
    ev = load(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.count("*").alias("n_events"),
                     F.sum("event_id").alias("sum_event_id")))
    write_excel(per_user.orderBy("user_id"), path)
    back = spark.createDataFrame(
        read_xlsx_pandas(path),
        "user_id bigint, n_events bigint, sum_event_id bigint")
    return (back.agg(F.count("*").alias("n_users"),
                     F.sum("n_events").alias("total_events"),
                     F.sum("sum_event_id").alias("total_event_id"),
                     F.max("n_events").alias("max_user_events")))


ORACLE_XLSX_ROUNDTRIP = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_events, SUM(event_id) AS sum_event_id
  FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(sum_event_id) AS BIGINT) AS total_event_id,
       CAST(MAX(n_events) AS BIGINT) AS max_user_events
FROM per_user
"""


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema'd readback — the interchange format of the
    reference's REST sources (get_odds.py:14-39) exercised as a sink.
    Jackson writes doubles shortest-round-trip, so values survive exactly;
    the oracle aggregates the original parquet."""
    path = scratch_dir("json", sf_dir)
    ev = load(spark, sf_dir, "events")
    (ev.select("event_id", "user_id", "event_type", "value")
     .write.mode("overwrite").json(path))
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(path)
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("user_id").alias("sum_user_id"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("sum_value")))


ORACLE_JSON_ROUNDTRIP = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + readback — the second columnar format next to parquet
    (S5): binary-exact for every type, predicate pushdown on read. The
    readback filter prunes ORC stripes the same way parquet row-groups
    prune (the oracle applies the same predicate to the parquet source)."""
    path = scratch_dir("orc", sf_dir)
    orders = load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("o_totalprice") > 1000.0)
    return (back.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("sum_price"),
                 F.max("o_orderdate").alias("max_date")))


ORACLE_ORC_ROUNDTRIP = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MAX(o_orderdate) AS max_date
FROM orders WHERE o_totalprice > 1000.0 GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# S1/T1: odds REST-JSON flatten (rows-only: connector demo on literal data)
# ---------------------------------------------------------------------------

_ODDS_PAYLOAD = [{
    "id": f"game{i}",
    "commence_time": f"2025-11-{10 + i:02d}T18:00:00Z",
    "home_team": f"Home{i}", "away_team": f"Away{i}",
    "bookmakers": [{
        "key": book,
        "markets": [
            {"key": "h2h", "outcomes": [
                {"name": f"Home{i}", "price": -150 - i, "point": None},
                {"name": f"Away{i}", "price": 130 + i, "point": None}]},
            {"key": "spreads", "outcomes": [
                {"name": f"Home{i}", "price": -110, "point": -2.5 - i},
                {"name": f"Away{i}", "price": -110, "point": 2.5 + i}]},
            {"key": "totals", "outcomes": [
                {"name": "Over", "price": -105, "point": 40.5 + i},
                {"name": "Under", "price": -115, "point": 40.5 + i}]},
        ],
    } for book in ("alpha", "beta")],
} for i in range(4)]


def q_odds_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+T1: the odds connector's triple-explode flatten on a deterministic
    literal payload (4 games x 2 books x 3 markets x 2 outcomes = 48 rows,
    the exact 9-column contract of test_odds_collector.py:170-172).
    Hash-checked: the oracle re-flattens the SAME payload literal with
    DuckDB's independent JSON machinery (json_transform + unnest x3)."""
    raw = odds_from_json_strings(spark, [json.dumps(_ODDS_PAYLOAD)])
    return flatten_odds(raw).orderBy("game_id", "book", "market", "outcome")


def _odds_flatten_oracle(where: str = "") -> str:
    """DuckDB twin of the T1 flatten over the same payload literal: typed
    json_transform, then one unnest per nesting level."""
    lit = json.dumps(_ODDS_PAYLOAD).replace("'", "''")
    spec = ('[{"id":"VARCHAR","commence_time":"VARCHAR",'
            '"home_team":"VARCHAR","away_team":"VARCHAR",'
            '"bookmakers":[{"key":"VARCHAR","markets":[{"key":"VARCHAR",'
            '"outcomes":[{"name":"VARCHAR","price":"BIGINT",'
            '"point":"DOUBLE"}]}]}]}]')
    return f"""
WITH raw AS (SELECT unnest(json_transform('{lit}', '{spec}')) AS g),
bk AS (SELECT g.id AS game_id, g.commence_time AS game_time,
              g.home_team AS home_team, g.away_team AS away_team,
              unnest(g.bookmakers) AS b FROM raw),
mk AS (SELECT game_id, game_time, home_team, away_team, b.key AS book,
              unnest(b.markets) AS m FROM bk),
oc AS (SELECT game_id, game_time, home_team, away_team, book,
              m.key AS market, unnest(m.outcomes) AS o FROM mk)
SELECT game_id, game_time, home_team, away_team, book, market,
       o.name AS outcome, o.price AS price, COALESCE(o.point, 0.0) AS point
FROM oc {where}
"""


# scraper fixture shared by the query's injected fetcher AND the oracle:
# the raw per-table cell values live here once; Spark melts them through
# the real mapInPandas adapter (record split + year rename + naming), the
# oracle re-derives the expected long rows INDEPENDENTLY (python re, not
# the pandas adapter) and serves them as a VALUES literal.
_SCRAPE_DATE = "2025-11-03"
_SCRAPE_REGISTRY = [
    ("rankings", "predictive", "http://r/p", "Rating,Pct", ""),
    ("offense_scoring", "scoring", "http://o/s", "Rating", ""),
    # record-marked column + two season columns: exercises the T3 W-L-T
    # split (team_rankings_scraper.py:48-82, :186) and the T6 year ->
    # this_yr/last_yr rename (:143-150) inside the distributed adapter
    ("rankings", "standings", "http://r/s", "Record,2025,2024", "Record"),
]
_SCRAPE_SIZES = {"predictive": 3, "scoring": 2, "standings": 3}


def _scrape_cells(table_name: str) -> dict[str, list[str]]:
    n = _SCRAPE_SIZES[table_name]
    if table_name == "standings":
        return {
            "Team": [f"team_{k}" for k in range(n)],
            "Record": ["3-1", "2-1-1", "--"][:n],
            "2025": [f"{8 + k}" for k in range(n)],
            "2024": [f"{5 + k}" for k in range(n)],
        }
    return {
        "Team": [f"team_{k}" for k in range(n)],
        "Rating": [f"{10.5 + k}" for k in range(n)],
        "Pct": [f"{50 + k}.0%" for k in range(n)],
    }


def q_scraper_longform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+T6+T3: the distributed scraper adapter with an injected
    deterministic fetcher — registry DataFrame fans out via mapInPandas,
    tables melt to the long form with {category}_{table}_{col} metric
    naming, record-marked columns split to _wins/_losses/_ties, year
    columns renamed this_yr/last_yr. O2: only the first table parse is
    kept per config (the fetcher returns one table, mirroring tables[0] at
    team_rankings_scraper.py:168-169). Hash-checked: the oracle expands
    the same raw cells independently (python re, not the adapter)."""
    cells_by_table = {t: _scrape_cells(t) for t in _SCRAPE_SIZES}

    def fetcher(category, table_name, base_url, date):
        import pandas as pd
        return pd.DataFrame(cells_by_table[table_name])

    registry = local_df(
        spark, _SCRAPE_REGISTRY,
        "category string, table_name string, base_url string, cols_to_keep string, record_cols string")
    out = scrape_tables_long(registry, _SCRAPE_DATE, fetcher=fetcher,
                             num_tasks=2)
    return (out.withColumn("date", F.date_format("date", "yyyy-MM-dd"))
            .orderBy("team", "metric"))


def _scrape_expected_rows() -> list[tuple[str, str, str | None]]:
    """(team, metric, value) rows the adapter must emit — derived with
    python re/str ops only, independent of the pandas code path."""
    import re as _re
    year_names = {str(y) for y in range(2000, 2101)}
    rows: list[tuple[str, str, str | None]] = []
    for category, table_name, _url, keep_s, rec_s in _SCRAPE_REGISTRY:
        cells = _scrape_cells(table_name)
        keep = [c.strip() for c in keep_s.split(",") if c.strip()]
        rec = {c.strip() for c in rec_s.split(",") if c.strip()}
        year_cols = [c for c in cells if c in year_names]
        rename = {}
        if year_cols:
            rename[year_cols[0]] = "this_yr"
            if len(year_cols) > 1:
                rename[year_cols[1]] = "last_yr"
        expanded: list[tuple[str, list[str | None]]] = []
        for col in keep:
            if col in rec:
                wins, losses, ties = [], [], []
                for v in cells[col]:
                    m = _re.match(r"^(\d+)-(\d+)(?:-(\d+))?$", v)
                    wins.append(m.group(1) if m else None)
                    losses.append(m.group(2) if m else None)
                    ties.append((m.group(3) or "0") if m else None)
                expanded += [(f"{col}_wins", wins), (f"{col}_losses", losses),
                             (f"{col}_ties", ties)]
            else:
                expanded.append((rename.get(col, col), cells[col]))
        prefix = f"{category}_{table_name}_"
        for col, values in expanded:
            metric = prefix + _re.sub(r"\s+", "_", col.lower())
            for team, value in zip(cells["Team"], values):
                rows.append((team, metric, value))
    return rows


def _scraper_longform_oracle() -> str:
    rows = []
    for team, metric, value in _scrape_expected_rows():
        v = "NULL" if value is None else f"'{value}'"
        rows.append(f"('{team}', '{metric}', {v})")
    values = ",\n    ".join(rows)
    return f"""
WITH fixture(team, metric, value) AS (VALUES
    {values})
SELECT team, '{_SCRAPE_DATE}' AS date, metric, value
FROM fixture
"""


def q_odds_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a first-class Spark format: the Python Data Source connector
    (sources/datasource.py) reading the same deterministic payload as
    q_odds_flatten from a payload directory — one input partition per API
    response file, with the market equality predicate pushed into the
    Python reader (spark.sql.python.filterPushdown). Hash-checked against
    the DuckDB re-flatten of the same payload literal, with the pushed
    market filter applied oracle-side."""
    import shutil

    from ..sources.datasource import register_odds_source
    # pid-scoped (base.scratch_dir): the rmtree+rewrite below racing another
    # process's in-flight glob/read on a shared dir is exactly the
    # cross-process corruption the pid tag exists to prevent
    payload_dir = scratch_dir("odds_payloads", sf_dir)
    # recreate from scratch: the reader globs every *.json in the dir, so
    # a stale payload from an older revision would silently become extra
    # input partitions
    shutil.rmtree(payload_dir, ignore_errors=True)
    os.makedirs(payload_dir, exist_ok=True)
    half = len(_ODDS_PAYLOAD) // 2
    for tag, games in (("us", _ODDS_PAYLOAD[:half]),
                       ("us2", _ODDS_PAYLOAD[half:])):
        with open(os.path.join(payload_dir, f"{tag}.json"), "w",
                  encoding="utf-8") as fh:
            json.dump(games, fh)
    register_odds_source(spark)
    return (spark.read.format("odds_rest").option("path", payload_dir).load()
            .filter(F.col("market").isin("spreads", "totals"))
            .orderBy("game_id", "book", "market", "outcome"))


# box-scores fixture shared by the injected fetcher AND the oracle: the
# raw per-game values live here once as plain python tuples; Spark runs
# them through the real per-year mapInPandas fan-out + CSV sink + typed
# read-back, the oracle serves the same tuples as a typed VALUES literal.
_BOX_YEARS = [2023, 2024]
_BOX_TEAMS = ("hawks", "bears", "colts", "rams")


def _box_games(year: int) -> list[tuple]:
    """Deterministic season schedule: 3 weeks x 2 games per year."""
    games = []
    for week in range(1, 4):
        for g in range(2):
            h = _BOX_TEAMS[(week + g) % 4]
            a = _BOX_TEAMS[(week + g + 2) % 4]
            games.append((
                f"{year}_w{week}_g{g}", year, week,
                f"{year}-09-{7 + 7 * (week - 1) + g:02d}",
                h, a, 14 + (week * 7 + g) % 21, 10 + (week * 3 + g) % 17))
    return games


def q_box_scores_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+S9: the ESPN season-schedule connector with an injected
    deterministic fetcher — the year list fans out one mapInPandas task
    per season (box_score_cllector.py:12-32's loop+concat as a
    distributed union), then round-trips through the reference's CSV sink
    (:38) and a typed schema-on-read. Hash-checked: the oracle serves the
    same raw tuples as a typed VALUES literal, so the fan-out, column
    selection, date parse, CSV write and read-back must all preserve
    values and types exactly."""
    import pandas as pd

    from ..sources.box_scores import (SCHEDULE_COLUMNS, SCHEDULE_SCHEMA,
                                      season_schedules, write_schedule_csv)

    def fetcher(year: int) -> pd.DataFrame:
        games = _box_games(year)
        # extra column + shuffled column order: the connector must select
        # SCHEDULE_COLUMNS, not trust the fetcher's layout
        pdf = pd.DataFrame(games, columns=SCHEDULE_COLUMNS)
        pdf["venue"] = "dome"
        return pdf[list(reversed(pdf.columns.tolist()))]

    sched = season_schedules(spark, _BOX_YEARS, fetcher=fetcher)
    path = scratch_dir("box_scores_csv", sf_dir)
    write_schedule_csv(sched, path)
    back = (spark.read.schema(SCHEDULE_SCHEMA)
            .option("header", True).csv(path))
    # DATE column surfaces as yyyy-MM-dd text for the driver's hash
    # (pandas object-vs-datetime64 kinds differ between engines)
    return (back
            .withColumn("game_date", F.date_format("game_date", "yyyy-MM-dd"))
            .orderBy("game_id"))


def _box_scores_oracle() -> str:
    rows = []
    for year in _BOX_YEARS:
        for gid, season, week, date, h, a, hs, as_ in _box_games(year):
            rows.append(f"('{gid}', {season}, {week}, '{date}', "
                        f"'{h}', '{a}', {hs}, {as_})")
    values = ",\n    ".join(rows)
    return f"""
WITH fixture(game_id, season, week, game_date,
             home_team, away_team, home_score, away_score) AS (VALUES
    {values})
SELECT game_id, CAST(season AS INTEGER) AS season,
       CAST(week AS INTEGER) AS week, game_date, home_team, away_team,
       CAST(home_score AS INTEGER) AS home_score,
       CAST(away_score AS INTEGER) AS away_score
FROM fixture
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 Pandas-UDF surface: the multimodal decode pipeline — binary
    payload column through an Arrow-batched mapInPandas feature extractor
    (payload dropped before any shuffle; only narrow feature rows move).
    The checked projection is the fully deterministic per-doc contract:
    payload byte count + md5 content hash + modality routing — DuckDB
    re-derives all three from the same utf8 payload (octet_length(encode),
    md5, doc_id%3 routing). feat_mean stays computed inside the UDF (its
    per-modality aggregate is hash-checked by multimodal_stats)."""
    from ..sources.multimodal import decode_features, synthesize_multimodal
    docs = load(spark, sf_dir, "documents")
    mm = synthesize_multimodal(docs.select("doc_id", "text"))
    feats = decode_features(mm)
    return feats.select("doc_id", "modality", "payload_bytes",
                        "content_hash")


ORACLE_MULTIMODAL_DECODE = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
       END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       md5(text) AS content_hash
FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing, end to end: synthesize the multimodal
    fixture, route the 'video' modality through sources/multimodal.py:
    sample_frames — an Arrow-batched mapInPandas that fans each payload out
    to one NARROW row per sampled timestamp (metadata-driven grid, payload
    bytes never re-emitted). The deterministic frame hash (md5 of
    payload + '#' + ts) makes every output cell re-derivable in DuckDB:
    the oracle rebuilds the same doc x frame-grid cross join and hashes. Proves schema, fan-out
    cardinality, and batch shape — the parts of the pipeline Spark owns."""
    from ..sources.multimodal import sample_frames, synthesize_multimodal
    docs = load(spark, sf_dir, "documents")
    mm = (synthesize_multimodal(docs.select("doc_id", "text"))
          .filter(F.col("modality") == "video"))
    return sample_frames(mm, every_ms=250)


ORACLE_FRAME_SAMPLE = """
SELECT doc_id, frame_ts_ms,
       md5(text || '#' || CAST(frame_ts_ms AS VARCHAR)) AS frame_hash
FROM documents
CROSS JOIN (SELECT UNNEST([0, 250, 500, 750]) AS frame_ts_ms)
WHERE CAST(doc_id % 3 AS INTEGER) = 2
"""


def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction proven as a query: write events Hive-
    partitioned with a deliberately fragmented layout (16 files per
    year/month — the state a streaming sink or repeated upserts leave
    behind), run io.compact_partitions down to 1 file per partition, read
    the compacted table back and aggregate. The oracle aggregates the
    SOURCE events, so a hash match proves compaction is a pure layout
    change — no row lost/duplicated/mutated. File-count reduction itself
    is asserted in tests/test_upsert.py; at 100 TB the job runs with an
    explicit touched-partition list so it rewrites O(recent), not
    O(table)."""
    from ..io import compact_partitions, with_partition_cols
    path = scratch_dir("compact", sf_dir)
    ev = load(spark, sf_dir, "events").withColumnRenamed("ts", "timestamp")
    (with_partition_cols(ev)
     .repartition(16)                      # fragment: ~16 files/partition
     .write.mode("overwrite").partitionBy("year", "month")
     .parquet(path, compression="snappy"))
    compact_partitions(spark, path, target_files_per_partition=1)
    back = spark.read.parquet(path)
    return (back.groupBy("year", "month")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("sum_value")))


ORACLE_COMPACT_ROUNDTRIP = """
SELECT CAST(EXTRACT(year FROM ts) AS INTEGER) AS year,
       CAST(EXTRACT(month FROM ts) AS INTEGER) AS month,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_compact_multifile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact_partitions' N>1 path proven as a query: same fragmented
    write as q_compact_roundtrip, compacted to target_files_per_partition
    = 3 — the hash-salt fan-out (io.py: __salt = hash(all columns) % k)
    that keeps output files per partition bounded WITHOUT a full sort.
    The oracle aggregates the source, so a hash match proves the salt
    column never leaks into the data and the rewrite is content-invariant;
    the <=3-files-per-partition bound itself is asserted in
    tests/test_upsert.py (file counts aren't SQL-visible). The N>1 target
    is the realistic setting at 100 TB: one file per partition would
    serialize each partition's write through one task."""
    from ..io import compact_partitions, with_partition_cols
    path = scratch_dir("compactN", sf_dir)
    ev = load(spark, sf_dir, "events").withColumnRenamed("ts", "timestamp")
    (with_partition_cols(ev)
     .repartition(16)
     .write.mode("overwrite").partitionBy("year", "month")
     .parquet(path, compression="snappy"))
    compact_partitions(spark, path, target_files_per_partition=3)
    back = spark.read.parquet(path)
    return (back.groupBy("year", "month")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("sum_value")))


def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across batches, read side: batch 1 lands orders
    WITHOUT o_orderpriority, batch 2 (appended later, schema widened) has
    it — the inevitable state of any long-lived ingest. A mergeSchema read
    unions the file schemas and null-fills the missing column for old
    files; the aggregation buckets those rows under '<pre-evolution>'.
    The oracle rebuilds the same two-batch union with an explicit NULL
    column, proving Spark's schema merge adds the column without touching
    any row. (Schema merge is a FILE-LEVEL union; at 100 TB enable it on
    the specific evolving table, not globally — footer merging costs a
    per-file read.)"""
    path = scratch_dir("schemaevo", sf_dir)
    orders = load(spark, sf_dir, "orders")
    old = (orders.filter(F.col("o_orderkey") % 2 == 0)
           .select("o_orderkey", "o_totalprice"))
    new = (orders.filter(F.col("o_orderkey") % 2 == 1)
           .select("o_orderkey", "o_totalprice", "o_orderpriority"))
    old.write.mode("overwrite").parquet(path)
    new.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (back.groupBy(F.coalesce("o_orderpriority",
                                    F.lit("<pre-evolution>"))
                         .alias("priority"))
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                          .cast("double"), 2).alias("total_price")))


ORACLE_SCHEMA_EVOLUTION = """
WITH unioned AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1)
SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_price
FROM unioned GROUP BY 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table time-travel diff — the Delta/Iceberg 'what changed between
    snapshot v1 and v2' audit, on plain partitioned parquet (no table-
    format lib in this container, so versions are Hive dirs v=1/v=2 and
    the diff is computed relationally; a format's change-file metadata
    would shortcut the join, the semantics are identical). Snapshot v2 is
    derived from v1 by deterministic h60 gates (5% deleted, 5% price-
    updated, 5% cloned under fresh keys — no RNG state, replayable by the
    oracle). Both versions are WRITTEN through the engine's parquet sink
    and read back through partition discovery (v prunes at the dir
    level), so the checked path is storage-in-the-loop, like the other
    connector entries. The diff itself is ONE full-outer join on the key
    with per-key change classification + exact-integer-cents deltas —
    at 100 TB both sides hash-partition on the key (one shuffle each) and
    the unchanged mass never leaves its executor; with a real table
    format the join reads only the changed files."""
    from ..functions.hashing import h60
    from .base import cents
    path = scratch_dir("snapdiff", sf_dir)
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p"))
    base = orders.withColumn(
        "g", h60(F.concat(F.lit("snapv_"), F.col("k").cast("string"))) % 20)
    v1 = base.select("k", "p")
    v2 = (base.filter(F.col("g") != 0)
          .select("k", F.when(F.col("g") == 1, F.col("p") + 10.0)
                        .otherwise(F.col("p")).alias("p"))
          .unionAll(base.filter(F.col("g") == 2)
                    .select((F.col("k") + F.lit(1000000000)).alias("k"),
                            "p")))
    v1.write.mode("overwrite").parquet(os.path.join(path, "v=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "v=2"))
    snaps = spark.read.parquet(path)
    s1 = (snaps.filter(F.col("v") == 1)
          .select(F.col("k").alias("k1"), F.col("p").alias("p1")))
    s2 = (snaps.filter(F.col("v") == 2)
          .select(F.col("k").alias("k2"), F.col("p").alias("p2")))
    d = (s1.join(s2, F.col("k1") == F.col("k2"), "full_outer")
         .select(F.coalesce("k1", "k2").alias("k"),
                 F.when(F.col("k1").isNull(), "added")
                  .when(F.col("k2").isNull(), "deleted")
                  .when(F.col("p1") != F.col("p2"), "updated")
                  .otherwise("unchanged").alias("change_type"),
                 (F.coalesce(cents(F.col("p2")), F.lit(0))
                  - F.coalesce(cents(F.col("p1")), F.lit(0))).alias("dc")))
    return (d.groupBy("change_type")
            .agg(F.count("*").alias("n"),
                 F.sum("k").alias("key_sum"),
                 F.sum("dc").alias("delta_cents")))


ORACLE_SNAPSHOT_DIFF = f"""
WITH g AS (
  SELECT o_orderkey AS k, o_totalprice AS p,
         {h60_sql("'snapv_' || CAST(o_orderkey AS VARCHAR)")} % 20 AS g
  FROM orders),
v1 AS (SELECT k, p FROM g),
v2 AS (SELECT k, CASE WHEN g = 1 THEN p + 10.0 ELSE p END AS p
       FROM g WHERE g <> 0
       UNION ALL
       SELECT k + 1000000000, p FROM g WHERE g = 2),
d AS (
  SELECT COALESCE(a.k, b.k) AS k,
         CASE WHEN a.k IS NULL THEN 'added'
              WHEN b.k IS NULL THEN 'deleted'
              WHEN a.p <> b.p THEN 'updated'
              ELSE 'unchanged' END AS change_type,
         COALESCE(CAST(round(b.p * 100) AS BIGINT), 0)
           - COALESCE(CAST(round(a.p * 100) AS BIGINT), 0) AS dc
  FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k)
SELECT change_type, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum,
       CAST(SUM(dc) AS BIGINT) AS delta_cents
FROM d GROUP BY 1
"""


_RS_W, _RS_H = 64, 48


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing end to end: the 'image' modality through
    sources/multimodal.py:resize_images, whose deterministic byte-plane
    keeps the entry oracle-checkable. Resize is the one multimodal transform
    that legitimately EMITS payloads (exactly width*height bytes each);
    the checked projection hashes them instead of shipping them — the
    oracle rebuilds each byte-plane by cycling the payload's md5 digest
    (ASCII, so char==byte on any input text, multi-byte or empty) and
    must md5-match, proving the Arrow batch pipeline byte-exact."""
    from ..sources.multimodal import resize_images, synthesize_multimodal
    docs = load(spark, sf_dir, "documents")
    mm = (synthesize_multimodal(docs.select("doc_id", "text"))
          .filter(F.col("modality") == "image"))
    resized = resize_images(mm, _RS_W, _RS_H)
    return resized.select(
        "doc_id", "width", "height",
        F.length("payload").alias("payload_bytes"),
        F.md5("payload").alias("payload_hash"))


ORACLE_MULTIMODAL_RESIZE = f"""
SELECT doc_id, {_RS_W} AS width, {_RS_H} AS height,
       CAST({_RS_W * _RS_H} AS INTEGER) AS payload_bytes,
       md5(substr(repeat(md5(text), {_RS_W * _RS_H
                                     // 32} + 1),
                  1, {_RS_W * _RS_H})) AS payload_hash
FROM documents
WHERE CAST(doc_id % 3 AS INTEGER) = 0
"""


# ---------------------------------------------------------------------------
# S7 weather: unit conversion + forecast window (weather_client.py parity)
# ---------------------------------------------------------------------------

_WEATHER_START = "2025-01-01 00:00:00"


def _weather_fake_fetch(lat, lon, start, end, gappy=False):
    """Deterministic offline stand-in for the Open-Meteo fetch: values are
    pure functions of (lat-encoded nation key, hour index), so a SQL
    oracle can recompute them from the nation table. Native units
    (celsius / km/h / mm), matching what the real connector would store
    canonically. ``gappy`` drops hours where (key + h) % 7 == 3 — the
    API-skipped-hours case the spine join must surface as NULLs."""
    import pandas as pd
    hours = pd.date_range(pd.Timestamp(start), pd.Timestamp(end),
                          freq="1h", inclusive="left")
    key = int(round(lat / 1.5))
    rows = [(ts, i) for i, ts in enumerate(hours)
            if not (gappy and (key + i) % 7 == 3)]
    return pd.DataFrame({
        "ts_utc": [ts for ts, _ in rows],
        "temperature_2m": [lat + i for _, i in rows],
        "windspeed_10m": [float((key + i) % 40) for _, i in rows],
        "precipitation": [float(i % 5) for _, i in rows],
    })


def _weather_fake(lat, lon, start, end):
    return _weather_fake_fetch(lat, lon, start, end, gappy=False)


def _weather_fake_gappy(lat, lon, start, end):
    return _weather_fake_fetch(lat, lon, start, end, gappy=True)


def _weather_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    return nation.select(
        F.col("n_name").alias("loc_id"),
        (F.col("n_nationkey") * 1.5).alias("lat"),
        (F.col("n_regionkey") * -10.0).alias("lon"),
        F.lit("UTC").alias("tz"))


def q_weather_unit_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 unit-conversion parity (weather_client.py:45-56, 173-183): the
    reference threads temperature_unit/wind_speed_unit/precipitation_unit
    to the API; here the connector stores native metric and converts at
    the edge (sources/weather.py:convert_units) — °C->°F, km/h->mph,
    mm->inch as row-local builtin arithmetic. One fan-out fetch over a
    nation-derived location list with a deterministic fake fetcher; the
    oracle recomputes every converted value from the nation table with
    the same IEEE op order, so the hash check proves the conversion
    columns bit-exact. No aggregation — per-hour rows, so no float-sum
    order sensitivity."""
    from ..sources.weather import convert_units, fetch_hourly_observations
    locs = _weather_locations(spark, sf_dir)
    obs = fetch_hourly_observations(
        locs, _WEATHER_START, "2025-01-02 00:00:00", fetcher=_weather_fake)
    conv = convert_units(obs, temperature_unit="fahrenheit",
                         wind_speed_unit="mph", precipitation_unit="inch")
    return conv.select(
        "loc_id", F.hour("ts_utc").alias("hour"),
        F.col("temperature_2m").alias("temp_f"),
        F.col("windspeed_10m").alias("wind_mph"),
        F.col("precipitation").alias("precip_in"))


ORACLE_WEATHER_UNIT_CONVERT = """
SELECT n_name AS loc_id, CAST(t.h AS INTEGER) AS hour,
       (n_nationkey * 1.5 + t.h) * 9.0 / 5.0 + 32.0 AS temp_f,
       CAST((n_nationkey + t.h) % 40 AS DOUBLE) / 1.609344 AS wind_mph,
       CAST(t.h % 5 AS DOUBLE) / 25.4 AS precip_in
FROM nation CROSS JOIN range(0, 24) t(h)
"""


def q_weather_forecast_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 forecast parity (weather_client.py:153-236): the forecast API is
    parameterized by forecast_days, not an end date — sources/weather.py:
    fetch_hourly_forecast/forecast_frame derive the [start, start+days*24h)
    window and align to the full spine. The fake fetcher SKIPS hours where
    (key + h) % 7 == 3; the checked per-location counts prove (a) the
    window is exactly forecast_days*24 spine hours, and (b) skipped hours
    surface as NULL metrics (counted as gaps), never as missing rows."""
    from ..sources.weather import fetch_hourly_forecast, forecast_frame
    locs = _weather_locations(spark, sf_dir)
    obs = fetch_hourly_forecast(locs, _WEATHER_START, forecast_days=2,
                                fetcher=_weather_fake_gappy)
    frame = forecast_frame(locs, obs, _WEATHER_START, forecast_days=2)
    return (frame.groupBy("loc_id")
            .agg(F.count("*").alias("n_hours"),
                 F.count("temperature_2m").alias("n_obs"),
                 (F.count("*") - F.count("temperature_2m")).alias("n_gaps")))


ORACLE_WEATHER_FORECAST_WINDOW = """
SELECT n_name AS loc_id, CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(CASE WHEN (n_nationkey + t.h) % 7 <> 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_obs,
       CAST(SUM(CASE WHEN (n_nationkey + t.h) % 7 = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_gaps
FROM nation CROSS JOIN range(0, 48) t(h)
GROUP BY 1
"""


def q_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout (io.write_zordered — the Delta/Iceberg
    OPTIMIZE ZORDER equivalent in stock Spark) proven as a query: write
    lineitem Morton-interleaved on (l_partkey, l_suppkey), read the copy
    back through a two-sided box predicate, and aggregate. The oracle runs
    the identical box on the SOURCE table, so a hash match proves the
    layout job is a pure reorganization (no row lost/duplicated/mutated by
    the ntile-rank + interleave + range-repartition pipeline).

    The predicate bounds come from a 1-row min/max probe (bounded scalar
    collect, io.py:80 doctrine) so they reach the parquet scan as
    LITERALS — .explain shows PushedFilters on both key columns, and the
    file-level min/max stats of the z-ordered copy prune most files
    (quantified in tests/test_zorder.py; that's the point of the layout at
    100 TB: a 2-D box reads a sub-linear file subset on EITHER key)."""
    from ..io import write_zordered
    path = scratch_dir("zorder", sf_dir)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice")
    write_zordered(li, path, "l_partkey", "l_suppkey", num_files=16)
    b = li.agg(F.min("l_partkey").alias("p0"), F.max("l_partkey").alias("p1"),
               F.min("l_suppkey").alias("s0"),
               F.max("l_suppkey").alias("s1")).collect()[0]
    pk_hi = b["p0"] + (b["p1"] - b["p0"]) / 10.0
    sk_hi = b["s0"] + (b["s1"] - b["s0"]) / 10.0
    back = spark.read.parquet(path)
    sel = back.filter((F.col("l_partkey") <= F.lit(pk_hi))
                      & (F.col("l_suppkey") <= F.lit(sk_hi)))
    return sel.agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
         .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
         .alias("sum_price"))


ORACLE_ZORDER_PRUNING = """
WITH b AS (
  SELECT MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) / 10.0 AS pk_hi,
         MIN(l_suppkey) + (MAX(l_suppkey) - MIN(l_suppkey)) / 10.0 AS sk_hi
  FROM lineitem)
SELECT COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem CROSS JOIN b
WHERE l_partkey <= b.pk_hi AND l_suppkey <= b.sk_hi
"""


def q_zorder_pruning_3col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-column z-order layout proven as a query (morton_key_multi —
    the 'two or three hottest filter columns' contract delivered for
    three): lineitem clustered on (l_partkey, l_suppkey, l_orderkey),
    read back through a THREE-sided box predicate, aggregated. The oracle
    runs the identical box on the source table — hash equality proves the
    N-column layout job is still a pure reorganization. File-level
    3-dimensional clustering (every file spans a minority of all three
    ranges) is asserted in tests/test_zorder.py; the box bounds are
    literal-pushed like the 2-col twin."""
    from ..io import write_zordered
    path = scratch_dir("zorder3", sf_dir)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice")
    write_zordered(li, path, "l_partkey", "l_suppkey", "l_orderkey",
                   num_files=16)
    b = li.agg(F.min("l_partkey").alias("p0"), F.max("l_partkey").alias("p1"),
               F.min("l_suppkey").alias("s0"), F.max("l_suppkey").alias("s1"),
               F.min("l_orderkey").alias("o0"),
               F.max("l_orderkey").alias("o1")).collect()[0]
    pk_hi = b["p0"] + (b["p1"] - b["p0"]) / 4.0
    sk_hi = b["s0"] + (b["s1"] - b["s0"]) / 4.0
    ok_hi = b["o0"] + (b["o1"] - b["o0"]) / 4.0
    back = spark.read.parquet(path)
    sel = back.filter((F.col("l_partkey") <= F.lit(pk_hi))
                      & (F.col("l_suppkey") <= F.lit(sk_hi))
                      & (F.col("l_orderkey") <= F.lit(ok_hi)))
    return sel.agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
         .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
         .alias("sum_price"))


ORACLE_ZORDER_PRUNING_3COL = """
WITH b AS (
  SELECT MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) / 4.0 AS pk_hi,
         MIN(l_suppkey) + (MAX(l_suppkey) - MIN(l_suppkey)) / 4.0 AS sk_hi,
         MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey)) / 4.0 AS ok_hi
  FROM lineitem)
SELECT COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem CROSS JOIN b
WHERE l_partkey <= b.pk_hi AND l_suppkey <= b.sk_hi
  AND l_orderkey <= b.ok_hi
"""


# ---------------------------------------------------------------------------
# Python Data Source WRITER: custom sink exercised end to end
# ---------------------------------------------------------------------------

def q_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the Python Data Source API (§2.1/S-surface —
    odds_python_source covers the read half): events flow through the
    registered ``jsonl_dir`` sink (sources/datasource.py:JsonlDirWriter),
    whose ``write()`` runs per partition on executors (uuid-named file
    per task — retry-safe, no renames needed) and whose driver-side
    ``commit()`` publishes a _manifest.json only after every task
    succeeded — the all-or-nothing contract a custom sink must provide.
    The readback (Spark's json reader, schema-pinned; the _-prefixed
    manifest is invisible to it) aggregates per event_type, and the
    oracle computes the same aggregate over the SOURCE table — hash
    equality proves the custom writer serialized every row exactly once
    with doubles surviving the json round-trip (repr-exact). Scale: the
    sink is embarrassingly parallel (no coordination until commit);
    commit cost is O(tasks)."""
    import shutil

    from ..sources.datasource import register_jsonl_sink
    register_jsonl_sink(spark)
    path = scratch_dir("pysink", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    (ev.write.format("jsonl_dir").mode("append")
     .option("path", path).save())
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(path)
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("sum_value"),
                 F.countDistinct("user_id").alias("n_users")))


ORACLE_PYTHON_DATASOURCE_SINK = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# File-statistics manifest: the data-skipping decision, made checkable
# ---------------------------------------------------------------------------

MANIFEST_BAND_W = 5_000_000    # $50k bands in cents -> ~11 files over orders
MANIFEST_LO = 15_000_000       # skip-test predicate: total BETWEEN $150k
MANIFEST_HI = 30_000_000       # and $300k (cents)


def q_file_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file min/max statistics manifest + the pruning decision — the
    mechanism behind every lakehouse data-skipping layer (Delta/Iceberg
    manifests, parquet row-group stats), built and verified as a query.
    Orders are clustered into $50k price bands (hash-repartitioned on the
    band so each Hive dir holds exactly ONE file — layout under test, not
    luck: the oracle pins n_files = 1) and written through the engine
    sink. The readback groups by `_metadata.file_path` to collect what a
    table format would persist in its manifest: per-file row count and
    min/max of the clustered column. `would_read` is the skipping
    predicate a scan planner evaluates against the manifest (file range
    intersects [lo, hi]); `n_matching` counts the rows the predicate
    actually selects — bands with would_read = false must show 0, which
    the oracle enforces bin-for-bin. At 100 TB the manifest is O(files),
    the decision is made without touching data files, and clustering
    quality (here: banding; zorder_pruning for multi-column) determines
    how many files survive the intersection test."""
    path = scratch_dir("manifest", sf_dir)
    from .base import cents
    o = (load(spark, sf_dir, "orders")
         .select("o_orderkey", cents("o_totalprice").alias("cts"))
         .withColumn("band", F.expr(f"cts div {MANIFEST_BAND_W}")))
    (o.repartition("band")
     .write.mode("overwrite").partitionBy("band").parquet(path))
    back = spark.read.parquet(path)
    manifest = (back.groupBy("band")
                .agg(F.count("*").alias("n_rows"),
                     F.countDistinct(F.col("_metadata.file_path"))
                      .alias("n_files"),
                     F.min("cts").alias("min_cents"),
                     F.max("cts").alias("max_cents"),
                     F.sum(F.col("cts").between(MANIFEST_LO, MANIFEST_HI)
                            .cast("int")).alias("n_matching")))
    return manifest.select(
        "band", "n_rows", "n_files", "min_cents", "max_cents",
        ((F.col("min_cents") <= MANIFEST_HI) &
         (F.col("max_cents") >= MANIFEST_LO)).alias("would_read"),
        F.col("n_matching").cast("bigint").alias("n_matching"))


ORACLE_FILE_STATS_MANIFEST = f"""
WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cts
           FROM orders),
bands AS (SELECT cts // {MANIFEST_BAND_W} AS band, COUNT(*) AS n_rows,
                 MIN(cts) AS min_cents, MAX(cts) AS max_cents,
                 CAST(SUM(CASE WHEN cts BETWEEN {MANIFEST_LO} AND
                   {MANIFEST_HI} THEN 1 ELSE 0 END) AS BIGINT) AS n_matching
          FROM o GROUP BY 1)
SELECT band, n_rows, CAST(1 AS BIGINT) AS n_files, min_cents, max_cents,
       min_cents <= {MANIFEST_HI} AND max_cents >= {MANIFEST_LO}
         AS would_read,
       n_matching
FROM bands
"""


CONNECTOR_QUERIES = [
    QueryDef("upsert_roundtrip", q_upsert_roundtrip, ORACLE_UPSERT_ROUNDTRIP,
             "S4,S5,S6,A1,A2", bench=True),
    QueryDef("zorder_pruning", q_zorder_pruning, ORACLE_ZORDER_PRUNING,
             "S5-zorder,T11"),
    QueryDef("zorder_pruning_3col", q_zorder_pruning_3col,
             ORACLE_ZORDER_PRUNING_3COL, "S5-zorder-3col,T11"),
    QueryDef("csv_roundtrip", q_csv_roundtrip, ORACLE_CSV_ROUNDTRIP, "S9"),
    QueryDef("json_roundtrip", q_json_roundtrip, ORACLE_JSON_ROUNDTRIP, "S1-sink"),
    QueryDef("orc_roundtrip", q_orc_roundtrip, ORACLE_ORC_ROUNDTRIP, "S5-orc"),
    QueryDef("xlsx_roundtrip", q_xlsx_roundtrip, ORACLE_XLSX_ROUNDTRIP,
             "S3,S10"),
    QueryDef("odds_flatten", q_odds_flatten, _odds_flatten_oracle(),
             "S1,T1"),
    QueryDef("odds_python_source", q_odds_python_source,
             _odds_flatten_oracle("WHERE market IN ('spreads', 'totals')"),
             "S1-datasource", bench=True),
    QueryDef("scraper_longform", q_scraper_longform,
             _scraper_longform_oracle(), "S2,T6,O2"),
    QueryDef("box_scores_schedule", q_box_scores_schedule,
             _box_scores_oracle(), "S8,S9"),
    QueryDef("weather_unit_convert", q_weather_unit_convert,
             ORACLE_WEATHER_UNIT_CONVERT, "S7-units,T13"),
    QueryDef("weather_forecast_window", q_weather_forecast_window,
             ORACLE_WEATHER_FORECAST_WINDOW, "S7-forecast,T14"),
    QueryDef("multimodal_decode", q_multimodal_decode,
             ORACLE_MULTIMODAL_DECODE, "LLM-multimodal-udf"),
    QueryDef("multimodal_frame_sample", q_multimodal_frame_sample,
             ORACLE_FRAME_SAMPLE, "LLM-multimodal-frames"),
    QueryDef("multimodal_resize", q_multimodal_resize,
             ORACLE_MULTIMODAL_RESIZE, "LLM-multimodal-resize"),
    QueryDef("compact_roundtrip", q_compact_roundtrip,
             ORACLE_COMPACT_ROUNDTRIP, "S5+S6: small-file compaction"),
    QueryDef("compact_multifile", q_compact_multifile,
             ORACLE_COMPACT_ROUNDTRIP,
             "S5+S6: salted N-file-per-partition compaction"),
    QueryDef("schema_evolution_read", q_schema_evolution_read,
             ORACLE_SCHEMA_EVOLUTION, "S4: mergeSchema evolution read"),
    QueryDef("snapshot_diff", q_snapshot_diff, ORACLE_SNAPSHOT_DIFF,
             "S4+S5+J2: snapshot time-travel diff"),
    QueryDef("file_stats_manifest", q_file_stats_manifest,
             ORACLE_FILE_STATS_MANIFEST,
             "S-manifest: per-file min/max stats + data-skipping decision"),
    QueryDef("python_datasource_sink", q_python_datasource_sink,
             ORACLE_PYTHON_DATASOURCE_SINK,
             "S1-datasource-writer: Python DataSource custom sink"),
]
