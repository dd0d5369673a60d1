"""Distributed HTML-table source: the rankings-scraper adapter.

The reference fetches 221 configured tables sequentially in one process
with a politeness sleep (team_rankings_scraper.py:152-170, 213-235) — the
dominant wall-clock cost of its weekly run (SURVEY.md §6). Here the URL
registry becomes a DataFrame and the fetch fans out via ``mapInPandas``:
one task per registry slice, politeness throttle applied *per worker*, and
the output is the scale-safe LONG form (team, date, metric, value) — the
1500-column wide frame is a pivot away (operators/joins.py:pivot_wide).

The HTTP call itself is pluggable (``fetcher``); the default raises — tests
and offline runs inject a deterministic fake. No network code runs unless a
caller provides it.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..operators.records import RECORD_RE

# (category, table_name, base_url, date) -> parsed table
Fetcher = Callable[[str, str, str, str], pd.DataFrame]

REGISTRY_SCHEMA = "category string, table_name string, base_url string, cols_to_keep string, record_cols string"
LONG_SCHEMA = "team string, date string, metric string, value string"


def _default_fetcher(category: str, table_name: str, base_url: str,
                     date: str) -> pd.DataFrame:
    raise NotImplementedError(
        "no HTTP fetcher injected; pass fetcher= (network is connector-side, "
        "mirroring team_rankings_scraper.py:152-170)")


_YEAR_NAMES = {str(y) for y in range(2000, 2101)}


def scrape_tables_long(registry: DataFrame, date: str,
                       fetcher: Fetcher | None = None,
                       throttle_s: float = 0.0,
                       num_tasks: int = 32) -> DataFrame:
    """Fan the registry out across executors; emit long-form metrics.

    Each fetched table is melted to (team, metric, value) with metric names
    prefixed ``{category}_{table_name}_{col}`` — the reference's
    column-naming contract (team_rankings_scraper.py:190-194) applied to
    long-form rows. Registry columns drive two reference-mandated
    transforms BEFORE the melt:

    - ``record_cols`` (T3, team_rankings_scraper.py:48-82, :186): each
      marked '"W-L(-T)"' column becomes three ``{col}_wins`` /
      ``{col}_losses`` / ``{col}_ties`` columns (ties default '0' when
      absent; non-matching values go NULL, same contract as
      operators/records.py:split_record).
    - year columns (T6 tail, team_rankings_scraper.py:143-150): the first
      column named like a year (2000-2100) renames to ``this_yr``, the
      second to ``last_yr``, so metric names stay season-stable.

    Values stay strings here; operators/clean.py + operators/records.py
    handle %-parsing, further splits, and coercion downstream (the
    reference's T3-T10 chain).
    """
    fetch = fetcher or _default_fetcher

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if throttle_s:
                    time.sleep(throttle_s)
                tbl = fetch(row.category, row.table_name, row.base_url, date)
                if tbl is None or tbl.empty or "Team" not in tbl.columns:
                    continue
                tbl = tbl.copy()
                keep = [c.strip() for c in str(row.cols_to_keep or "").split(",")
                        if c.strip()] or [c for c in tbl.columns if c != "Team"]
                rec_cols = [c.strip() for c in
                            str(getattr(row, "record_cols", "") or "").split(",")
                            if c.strip()]
                for col in rec_cols:
                    if col not in tbl.columns:
                        continue
                    ext = tbl[col].astype(str).str.extract(RECORD_RE)
                    ties = ext[2].copy()
                    ties[ext[0].notna() & ext[2].isna()] = "0"
                    split = [f"{col}_wins", f"{col}_losses", f"{col}_ties"]
                    tbl[split[0]], tbl[split[1]], tbl[split[2]] = (
                        ext[0], ext[1], ties)
                    tbl = tbl.drop(columns=[col])
                    if col in keep:
                        keep[keep.index(col):keep.index(col) + 1] = split
                year_cols = [c for c in tbl.columns if str(c) in _YEAR_NAMES]
                if year_cols:
                    renames = {year_cols[0]: "this_yr"}
                    if len(year_cols) > 1:
                        renames[year_cols[1]] = "last_yr"
                    tbl = tbl.rename(columns=renames)
                    keep = [renames.get(c, c) for c in keep]
                melted = tbl.melt(id_vars=["Team"],
                                  value_vars=[c for c in keep if c in tbl.columns],
                                  var_name="col", value_name="value")
                prefix = f"{row.category}_{row.table_name}_"
                metric = (prefix + melted["col"].astype(str)
                          .str.lower().str.replace(r"\s+", "_", regex=True))
                yield pd.DataFrame({
                    "team": melted["Team"].astype(str),
                    "date": date,
                    "metric": metric,
                    "value": melted["value"].astype("string"),
                })

    return (registry
            .repartition(num_tasks)
            .mapInPandas(run, schema=LONG_SCHEMA)
            .withColumn("date", F.to_date("date")))
