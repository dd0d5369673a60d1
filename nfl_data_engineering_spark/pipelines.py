"""End-to-end collection pipelines + event dispatch — the reference's
top-level API surface, Spark-native.

Mirrors the contract of src/main.py:25-40 (event dict -> dispatch to
collectors by name, optional explicit run date) and the two collector
pipelines:

- odds (src/data_collectors/odds_data_collector.py:20-51): fetch -> flatten
  -> timestamp -> append with full-row dedup into year/month partitions.
- rankings (src/data_collectors/team_rankings_data_collector.py:21-50):
  registry fan-out scrape -> long-form normalize -> timestamp -> keyed
  keep-latest upsert.

Network access is injected (payloads / fetcher), so the pipelines are
deterministic and testable offline; the connector modules own HTTP.
"""

from __future__ import annotations

import datetime as dt
import warnings
import zoneinfo
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .io import upsert_partitioned
from .sources.html_table import Fetcher, scrape_tables_long
from .sources.rest_json import (EXPECTED_MARKETS, build_odds_snapshot,
                                market_counts, missing_markets,
                                odds_from_json_strings, wall_clock_ts)

RANKINGS_KEY_COLS = ["team", "date", "metric"]


def _observed(obs: Observation, *names: str) -> dict:
    """``obs.get``, or every metric 0 when the observation never reported.
    AQE replaces a shuffle stage that wrote no rows with an empty relation,
    and the observed metrics computed below that shuffle go with it, so a
    missing result means the observed batch was empty (``obs.get`` would
    fail on it)."""
    if obs._jo.getAsJava().isEmpty():
        return dict.fromkeys(names, 0)
    return obs.get


def run_odds_collection(spark: SparkSession, payloads: list[str],
                        table_path: str, collected_at: dt.datetime) -> dict:
    """The odds pipeline: payload JSON -> 9-col snapshot -> idempotent
    append (full-row dedup guards double runs, odds_data_collector.py:40-44).
    Returns collection stats incl. the market-coverage check
    (get_odds.py:68-79).

    The row count and the market check are observed during the upsert's
    write job, and every row carries the one ``collected_at`` wall clock,
    so the batch's partition is declared rather than probed: the snapshot
    is computed once, by the write."""
    raw = odds_from_json_strings(spark, payloads)
    snap = build_odds_snapshot(raw, collected_at)
    obs = Observation("odds_ingest")
    snap = snap.observe(obs, F.count(F.lit(1)).alias("n_rows"),
                        *market_counts())
    upsert_partitioned(spark, snap, table_path, key_cols=None,
                       partitions=[(collected_at.year, collected_at.month)])
    counts = _observed(obs, "n_rows", *EXPECTED_MARKETS)
    return {"rows_collected": counts["n_rows"],
            "missing_markets": missing_markets(counts),
            "table_path": table_path}


def run_rankings_collection(spark: SparkSession, registry: DataFrame,
                            date: str, fetcher: Fetcher, table_path: str,
                            collected_at: dt.datetime,
                            num_tasks: int = 32) -> dict:
    """The rankings pipeline: registry fan-out scrape (distributed, vs the
    reference's 221 sequential fetches) -> long form -> keyed keep-latest
    upsert on (team, date, metric) — re-collections replace stale values
    (team_rankings_data_collector.py:41-45)."""
    long_df = scrape_tables_long(registry, date, fetcher=fetcher,
                                 num_tasks=num_tasks)
    stamped = long_df.withColumn(
        "timestamp", wall_clock_ts(collected_at))
    obs = Observation("rankings_ingest")
    stamped = stamped.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    upsert_partitioned(spark, stamped, table_path,
                       key_cols=RANKINGS_KEY_COLS,
                       partitions=[(collected_at.year, collected_at.month)])
    return {"rows_collected": _observed(obs, "n_rows")["n_rows"],
            "table_path": table_path}


# The reference's run-timestamp timezone (src/main.py:31-35): explicit
# backfill dates are LOCALIZED to US/Central (wall clock preserved — "use
# it as-is ... don't shift to previous day"), dateless runs take now-UTC
# CONVERTED to Central wall time. Collectors then stamp + partition on
# that Central wall clock. Canonical zone name, not the reference's
# 'US/Central': US/* are deprecated BACKWARD links (identical rules)
# that slim tzdata builds strip, and a module-import-time
# ZoneInfoNotFoundError would break even explicit-date backfills that
# never touch the zone.
RUN_TZ = zoneinfo.ZoneInfo("America/Chicago")


def resolve_run_datetime(date: str | None,
                         now_utc: dt.datetime | None = None) -> dt.datetime:
    """The reference's run-datetime rule (src/main.py:27-35) as a pure
    function, returned as a NAIVE Central wall-clock datetime:

    * explicit ``date`` (backfill): parsed and taken AS-IS as Central
      wall time — the reference tz_localizes (never shifts), so
      '2024-11-18' backfills the 2024/11 partition regardless of where
      or when the job runs.
    * no date: ``now_utc`` (now() when None; injectable for tests)
      converted to Central wall time — a run at 2024-12-01T03:30Z
      stamps 2024-11-30 21:30 and lands in the 2024/11 partition, as
      the reference does (a now-UTC stamp would put it in 2024/12).

    Naive-Central (not tz-aware), stamped downstream via
    ``wall_clock_ts`` (string literal + ``to_timestamp``) so both the
    stamp and the ``year()/month()`` partition extraction are
    interpreted in the SESSION timezone — the same wall clock lands in
    the same partition regardless of driver-process TZ (a bare
    ``F.lit(naive datetime)`` would convert via the process zone and
    could shift a near-midnight run across a partition boundary)."""
    if date:
        return dt.datetime.fromisoformat(date)
    now = now_utc if now_utc is not None else dt.datetime.now(dt.timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=dt.timezone.utc)
    return now.astimezone(RUN_TZ).replace(tzinfo=None)


def handler(spark: SparkSession, event: dict,
            collectors: dict[str, Callable[[SparkSession, dt.datetime], dict]],
            ) -> dict[str, dict]:
    """Event dispatch (src/main.py:25-40 contract): ``event`` carries
    ``collectors_to_run`` (list of names) and an optional explicit ``date``
    (backfill); run datetime resolves per the reference's US/Central rule
    (resolve_run_datetime). Unknown collector names are skipped with a
    warning — the reference guards with ``if collector in
    eligible_collectors`` and silently drops them (src/main.py:38-40), and
    raising here would also abort the REMAINING collectors of a
    multi-collector event where the reference runs them."""
    run_dt = resolve_run_datetime(event.get("date"))
    results = {}
    for name in event.get("collectors_to_run") or []:
        if name not in collectors:
            warnings.warn(f"skipping unknown collector '{name}'; "
                          f"registered: {sorted(collectors)}",
                          stacklevel=2)
            continue
        results[name] = collectors[name](spark, run_dt)
    return results
