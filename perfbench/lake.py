"""The ``lake_ingest`` workload: the reference's collection cadence against
year/month-partitioned Parquet tables.

Each simulated day runs one keyed keep-latest rankings upsert
(``io.upsert_partitioned``), ``SNAPSHOTS_PER_DAY`` odds snapshots
(``pipelines.run_odds_collection``) and one partition- and column-pruned
read of the best line per game, market and outcome over the last three
days.  The days cross a month boundary; at the month end
``io.compact_partitions`` compacts the month on both tables.  Every pass
starts from a fresh copy of ``HISTORY_DAYS`` days of history, so the
first upsert rewrites a month that already holds data and the next one
opens a new month.  The check replays the same batches in DuckDB.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from datagen import LakeBatches

HISTORY_SEED = 7
FIRST_DAY = dt.date(2024, 11, 30)
DAYS = 2
HISTORY_DAYS = 5
SNAPSHOTS_PER_DAY = 1
READ_WINDOW_DAYS = 3
TABLES = ("rankings", "odds")

ODDS_COLS = ("game_id", "game_time", "home_team", "away_team", "book",
             "market", "outcome", "price", "point", "timestamp")


def flatten_payload(payload: str, at: dt.datetime) -> pa.Table:
    """The odds snapshot rows the pipeline produces from one payload."""
    rows = {c: [] for c in ODDS_COLS}
    for g in json.loads(payload):
        for b in g["bookmakers"]:
            for m in b["markets"]:
                for o in m["outcomes"]:
                    for c, v in zip(ODDS_COLS, (
                            g["id"], g["commence_time"], g["home_team"],
                            g["away_team"], b["key"], m["key"], o["name"],
                            o["price"], o.get("point", 0.0), at)):
                        rows[c].append(v)
    return pa.table({**{c: rows[c] for c in ODDS_COLS[:7]},
                     "price": pa.array(rows["price"], pa.int64()),
                     "point": pa.array(rows["point"], pa.float64()),
                     "timestamp": pa.array(rows["timestamp"],
                                           pa.timestamp("us", tz="UTC"))})


def parquet_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def write_history(out: str) -> dict[str, int]:
    """Ten days of both tables before the first timed day, one Parquet
    file per month partition, as the engine lays them out."""
    hist = LakeBatches(HISTORY_SEED, FIRST_DAY, 0, HISTORY_DAYS,
                       SNAPSHOTS_PER_DAY)
    parts: dict[tuple, list[pa.Table]] = {}
    for day in hist.history:
        month = (day.year, day.month)
        parts.setdefault(("rankings", *month), []).append(
            hist.rankings(day, recollect=False))
        for k in range(SNAPSHOTS_PER_DAY):
            at = dt.datetime.combine(day, dt.time(9 + 6 * k))
            parts.setdefault(("odds", *month), []).append(
                flatten_payload(hist.odds_payload(day), at))
    rows = dict.fromkeys(TABLES, 0)
    for (t, y, m), tables in parts.items():
        d = os.path.join(out, t, f"year={y}", f"month={m}")
        os.makedirs(d, exist_ok=True)
        table = pa.concat_tables(tables)
        pq.write_table(table, os.path.join(d, "part-00000.snappy.parquet"),
                       compression="snappy")
        rows[t] += table.num_rows
    return rows


class LakeIngest:
    """The collection cadence as timed ops on a fresh copy of the history
    per pass; the seed drives the batches."""

    min_passes = 3
    warm_passes = 2

    def __init__(self, run, work: str, seed: int) -> None:
        self.run = run
        self.work = work
        self.seed = seed
        self.tmp = os.path.join(work, "tmp", "lake")
        self.reads: list = []           # read results of the latest pass
        self.write_amps: list[float] = []

    # ------------------------------------------------------------ inputs
    def prepare(self) -> dict:
        self.history = os.path.join(
            self.work, "data",
            f"lake-history-{FIRST_DAY}-{HISTORY_DAYS}x{SNAPSHOTS_PER_DAY}"
            f"-seed{HISTORY_SEED}")
        manifest = os.path.join(self.history, "manifest.json")
        cached = os.path.exists(manifest)
        if cached:
            with open(manifest) as f:
                info = json.load(f)
        else:
            shutil.rmtree(self.history, ignore_errors=True)
            t0 = time.perf_counter()
            rows = write_history(self.history)
            info = {"rows": rows, "gen_s": time.perf_counter() - t0}
            with open(manifest, "w") as f:
                json.dump(info, f)
        t0 = time.perf_counter()
        batches = LakeBatches(self.seed, FIRST_DAY, DAYS, HISTORY_DAYS,
                              SNAPSHOTS_PER_DAY)
        self.schedule = batches.schedule()
        kinds = [op[0] for op in self.schedule]
        return {"history_rows": info["rows"], "history_gen_s": info["gen_s"],
                "cached": cached,
                "batch_gen_s": time.perf_counter() - t0,
                "ops_per_pass": {k: kinds.count(k) for k in set(kinds)},
                "replayed_snapshots": kinds.count("odds") - len(
                    {op[2] for op in self.schedule if op[0] == "odds"})}

    # -------------------------------------------------------------- ops
    def _upsert_rankings(self, spark, base: str, table: pa.Table) -> None:
        from nfl_data_engineering_spark.io import upsert_partitioned
        from nfl_data_engineering_spark.pipelines import RANKINGS_KEY_COLS
        df = spark.createDataFrame(table.to_pandas())
        with self.run.tracer.span("io.upsert"):
            upsert_partitioned(spark, df, os.path.join(base, "rankings"),
                               key_cols=RANKINGS_KEY_COLS)

    def _odds(self, spark, base: str, payload: str, at: dt.datetime) -> None:
        from nfl_data_engineering_spark.pipelines import run_odds_collection
        with self.run.tracer.span("pipelines.odds"):
            run_odds_collection(spark, [payload], os.path.join(base, "odds"),
                                at)

    def _read(self, spark, base: str, day: dt.date):
        """Best line per game, market and outcome over the last
        READ_WINDOW_DAYS days: partition- and column-pruned."""
        from pyspark.sql import functions as F
        lo = day - dt.timedelta(days=READ_WINDOW_DAYS - 1)
        hi = day + dt.timedelta(days=1)
        months = {(d.year, d.month) for d in (lo, day)}
        pred = F.lit(False)
        for y, m in months:
            pred = pred | ((F.col("year") == y) & (F.col("month") == m))
        df = (spark.read.parquet(os.path.join(base, "odds"))
              .where(pred)
              .where((F.col("timestamp") >= F.to_timestamp(F.lit(str(lo))))
                     & (F.col("timestamp") < F.to_timestamp(F.lit(str(hi)))))
              .groupBy("game_id", "market", "outcome")
              .agg(F.max("price").alias("best_price"),
                   F.count(F.lit(1)).alias("quotes")))
        self.run.tracer.catalyst(df)
        with self.run.tracer.span("driver.action"):
            return df.toPandas()

    def _compact(self, spark, base: str, day: dt.date) -> None:
        from nfl_data_engineering_spark.io import compact_partitions
        with self.run.tracer.span("io.compact"):
            for t in TABLES:
                compact_partitions(spark, os.path.join(base, t),
                                   partitions=[(day.year, day.month)])

    def _apply(self, spark, base: str, op: tuple):
        kind = op[0]
        if kind == "rankings":
            return self._upsert_rankings(spark, base, op[2])
        if kind == "odds":
            return self._odds(spark, base, op[2], op[3])
        if kind == "read":
            return self._read(spark, base, op[1])
        return self._compact(spark, base, op[1])

    # ------------------------------------------------------------ phases
    def level_off(self, spark, rng) -> None:
        """``warm_passes`` untimed passes."""
        for k in range(self.warm_passes):
            self.run_pass(spark, f"warm{k}", rng)
        self.write_amps = []

    def run_pass(self, spark, p, rng) -> None:
        base = os.path.join(self.tmp, "pass")
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(self.history, base)
        os.remove(os.path.join(base, "manifest.json"))
        files = {t: parquet_files(os.path.join(base, t)) for t in TABLES}
        written = 0
        self.reads = []
        for i, op in enumerate(self.schedule):
            kind = "query" if op[0] == "read" else "write"
            rec = self.run.op(op[0], kind,
                              lambda op=op: self._apply(spark, base, op), p, i)
            if op[0] == "read":
                self.reads.append(rec.get("result"))
                continue
            written += self._account_writes(base, files)
        final = sum(sum(parquet_files(os.path.join(base, t)).values())
                    for t in TABLES)
        self.write_amps.append(written / final)
        self.base = base

    def _account_writes(self, base: str, files: dict) -> int:
        """Files that appeared since the last look: bytes, files, the
        partitions they landed in and (traced) their rows."""
        layer, nbytes = self.run.layer, 0
        for t in TABLES:
            now = parquet_files(os.path.join(base, t))
            new = {p: s for p, s in now.items() if p not in files[t]}
            files[t] = now
            nbytes += sum(new.values())
            layer["io.files_written"] += len(new)
            layer["io.bytes_written_mb"] += sum(new.values()) / 2 ** 20
            layer["io.partitions_rewritten"] += len(
                {os.path.dirname(p) for p in new})
            if self.run.tracer.traced:
                layer["io.rows_rewritten"] += sum(
                    pq.read_metadata(p).num_rows for p in new)
        return nbytes

    # ------------------------------------------------------------ check
    def check(self, spark) -> tuple[int, int]:
        """Replay the schedule in DuckDB from the same history and compare
        the final tables and every read of the last pass."""
        import duckdb
        from nfl_data_engineering_spark.parity import compare
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            con.execute(
                f"CREATE TABLE {t} AS SELECT * EXCLUDE (year, month, "
                f"timestamp), timestamp::TIMESTAMP AS timestamp, "
                f"year::INTEGER AS year, month::INTEGER AS month FROM "
                f"read_parquet('{self.history}/{t}/*/*/*.parquet', "
                f"hive_partitioning = true)")
        bad, checked, reads = [], 0, iter(self.reads)
        for op in self.schedule:
            if op[0] == "rankings":
                self._duck_upsert(con, "rankings", op[2],
                                  "PARTITION BY team, date, metric "
                                  "ORDER BY timestamp DESC")
            elif op[0] == "odds":
                self._duck_upsert(con, "odds", flatten_payload(op[2], op[3]),
                                  None)
            elif op[0] == "read":
                checked += 1
                got = next(reads)
                lo = op[1] - dt.timedelta(days=READ_WINDOW_DAYS - 1)
                hi = op[1] + dt.timedelta(days=1)
                want = con.execute(
                    "SELECT game_id, market, outcome, max(price) AS "
                    "best_price, count(*) AS quotes FROM odds WHERE "
                    f"timestamp >= '{lo}' AND timestamp < '{hi}' "
                    "GROUP BY ALL").df()
                errs = (compare(got, want) if got is not None
                        else ["read failed"])
                bad += [f"read {op[1]}: {e}" for e in errs]
        for t in TABLES:
            checked += 1
            got = spark.read.parquet(os.path.join(self.base, t)).toPandas()
            want = con.execute(f"SELECT * FROM {t}").df()
            bad += [f"table {t}: {e}" for e in compare(got, want)]
        # space amplification: the live rows written once, one file per
        # partition, by the same writer
        once = os.path.join(self.tmp, "once")
        live = final = 0
        for t in TABLES:
            path = os.path.join(self.base, t)
            (spark.read.parquet(path).repartition("year", "month")
             .write.mode("overwrite").partitionBy("year", "month")
             .parquet(os.path.join(once, t), compression="snappy"))
            live += sum(parquet_files(os.path.join(once, t)).values())
            final += sum(parquet_files(path).values())
        self.space_amp = final / live
        con.close()
        self.run.errors.extend(bad)
        return checked, len({e.split(":")[0] for e in bad})

    @staticmethod
    def _duck_upsert(con, table: str, batch: pa.Table, window: str | None):
        con.register("batch", batch)
        con.execute("CREATE OR REPLACE TEMP TABLE b AS SELECT * EXCLUDE "
                    "(timestamp), timestamp::TIMESTAMP AS timestamp, "
                    "year(timestamp)::INTEGER AS year, "
                    "month(timestamp)::INTEGER AS month FROM batch")
        touched = "year * 100 + month IN (SELECT year * 100 + month FROM b)"
        con.execute(f"CREATE OR REPLACE TEMP TABLE m AS SELECT * FROM {table} "
                    f"WHERE {touched} UNION ALL BY NAME SELECT * FROM b")
        con.execute(f"DELETE FROM {table} WHERE {touched}")
        if window is None:      # full-row dedup (odds idempotency guard)
            con.execute(f"INSERT INTO {table} BY NAME SELECT DISTINCT * FROM m")
        else:                   # keyed keep-latest
            con.execute(f"INSERT INTO {table} BY NAME SELECT * EXCLUDE (rn) "
                        f"FROM (SELECT *, row_number() OVER ({window}) AS rn "
                        f"FROM m) WHERE rn = 1")
        con.unregister("batch")

    def report(self) -> dict:
        import statistics
        from probes import tail
        writes = [o["wall"] for o in self.run.ops
                  if o["kind"] == "write" and o["ok"]]
        out = {"write_p50_s": statistics.median(writes),
               "write_samples": len(writes),
               "write_tail": tail(writes, "write"),
               "write_amp": statistics.median(self.write_amps),
               "space_amp": self.space_amp}
        if isinstance(out["write_tail"], dict):
            out["write_tail_s"] = out["write_tail"]["s"]
        return out
