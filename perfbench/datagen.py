"""Seeded inputs for the perfbench workloads.

Two kinds of input, both pure functions of a seed:

* ``catalog_tables`` writes the ten TPC-H-ish tables the catalog entries
  read (one Parquet file per table, the layout ``plans.base.load``
  expects).  Value domains follow the engine's test data: money columns
  carry two decimals, keys are dense, foreign keys are uniform, the
  corpus is drawn from a 31-word vocabulary with a share of near and
  exact duplicates, embeddings are 64-d unit vectors with ten labels.
* ``LakeBatches`` yields the collection cadence of the reference
  pipeline: one rankings batch (32 teams x 221 metrics) and a set number
  of odds payloads per simulated day, for the history before the first
  timed day and for the timed days.

numpy's PCG64 stream is stable across platforms for a fixed seed, so the
same seed gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line row "
         "part agg key query scan fast batch a the").split()
LANGS = ("en", "fr", "de", "es", "zh")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
PART_ADJ = ("blue", "red", "hot", "cold", "new", "old", "small", "large")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pin")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng, n) -> dict:
    lengths = rng.integers(8, 100, n)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in lengths]
    # a share of near duplicates (an earlier text plus a marker word) and a
    # few exact copies, so the dedup entries have work to find
    for i in range(1, n):
        u = rng.random()
        if u < 0.03:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif u < 0.035:
            texts[i] = texts[rng.integers(0, i)]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def catalog_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the catalog tables at scale factor ``sf`` (sf 1 = 6M
    lineitem rows) into ``out_dir``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(100, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False)))

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": pa.array(REGIONS, pa.string())},
        "nation": {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, i32)},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)},
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))},
        "part": {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1))},
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ("O", "P", "F"), n_ord),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000)),
            "o_orderdate": pa.array(
                _days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)},
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(
                rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900, 105000)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("O", "F"), n_line),
            "l_shipdate": pa.array(
                _days(rng, n_line, "1995-01-02", "2001-11-04"))},
        "events": {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.gamma(2.0, 40.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_ev)])},
        "documents": _documents(rng, n_doc),
        "embeddings": {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32)},
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        rows[name] = t.num_rows
    return rows


# ---------------------------------------------------------------- lake_ingest

TEAMS = [f"team{i:02d}" for i in range(32)]
METRICS = [f"metric{i:03d}" for i in range(221)]
BOOKS = [f"book{i}" for i in range(8)]
GAMES_PER_SLATE = 20


class LakeBatches:
    """The collection cadence of the reference pipeline as data.

    ``history_days`` precede the timed days, so the first timed upsert
    lands on a month partition that already holds that history.  Timed
    days start at ``first_day``; a seeded share of each rankings batch
    re-collects keys of the previous week with a newer timestamp, and a
    seeded share of odds snapshots replays an earlier payload verbatim
    (same payload, same collection time)."""

    RECOLLECT_SHARE = 0.05
    REPLAY_SHARE = 0.3

    def __init__(self, seed: int, first_day: dt.date, n_days: int,
                 history_days: int, snapshots_per_day: int):
        self.rng = np.random.default_rng(seed)
        self.days = [first_day + dt.timedelta(days=i) for i in range(n_days)]
        self.history = [first_day - dt.timedelta(days=i)
                        for i in range(history_days, 0, -1)]
        self.snapshots_per_day = snapshots_per_day

    def rankings(self, day: dt.date, recollect: bool = True) -> pa.Table:
        rng = self.rng
        n = len(TEAMS) * len(METRICS)
        ts = np.datetime64(f"{day}T10:00:00", "us")
        dates = np.full(n, str(day), dtype=object)
        if recollect:
            redo = rng.random(n) < self.RECOLLECT_SHARE
            back = rng.integers(1, 8, n)
            dates[redo] = [str(day - dt.timedelta(days=int(b)))
                           for b in back[redo]]
        return pa.table({
            "team": pa.array(np.repeat(TEAMS, len(METRICS))),
            "date": pa.array(dates, pa.string()),
            "metric": pa.array(np.tile(METRICS, len(TEAMS))),
            "value": pa.array(np.round(rng.normal(50, 15, n), 3)),
            "timestamp": pa.array(np.full(n, ts),
                                  pa.timestamp("us", tz="UTC")),
        })

    def odds_payload(self, day: dt.date) -> str:
        """One API response: GAMES_PER_SLATE games x 8 books x 3 markets x
        2 outcomes = 960 flattened rows."""
        rng = self.rng
        week = day.isocalendar()[1]
        games = []
        for g in range(GAMES_PER_SLATE):
            home, away = f"team{(2 * g) % 32:02d}", f"team{(2 * g + 1) % 32:02d}"
            books = []
            for b in BOOKS:
                spread = float(rng.integers(-14, 15)) + 0.5
                total = float(rng.integers(36, 56)) + 0.5
                books.append({"key": b, "markets": [
                    {"key": "h2h", "outcomes": [
                        {"name": home, "price": int(rng.integers(-400, 400))},
                        {"name": away, "price": int(rng.integers(-400, 400))}]},
                    {"key": "spreads", "outcomes": [
                        {"name": home, "price": int(rng.integers(-120, -100)),
                         "point": spread},
                        {"name": away, "price": int(rng.integers(-120, -100)),
                         "point": -spread}]},
                    {"key": "totals", "outcomes": [
                        {"name": "Over", "price": int(rng.integers(-120, -100)),
                         "point": total},
                        {"name": "Under", "price": int(rng.integers(-120, -100)),
                         "point": total}]}]})
            games.append({"id": f"w{week}g{g:02d}",
                          "commence_time": f"{day}T18:00:00Z",
                          "home_team": home, "away_team": away,
                          "bookmakers": books})
        return json.dumps(games)

    def schedule(self) -> list[tuple]:
        """The timed ops in order: ("rankings", day, table),
        ("odds", day, payload, collected_at), ("read", day); month ends
        add ("compact", day)."""
        ops: list[tuple] = []
        sent: list[tuple[str, dt.datetime]] = []
        for day in self.days:
            ops.append(("rankings", day, self.rankings(day)))
            for k in range(self.snapshots_per_day):
                if sent and self.rng.random() < self.REPLAY_SHARE:
                    payload, at = sent[self.rng.integers(0, len(sent))]
                else:
                    at = dt.datetime.combine(day, dt.time(9 + 6 * k))
                    payload = self.odds_payload(day)
                    sent.append((payload, at))
                ops.append(("odds", day, payload, at))
            ops.append(("read", day))
            if (day + dt.timedelta(days=1)).month != day.month:
                ops.append(("compact", day))
        return ops
