"""Plumbing shared by the query catalog.

Determinism rules (the driver hash-compares Spark vs DuckDB values):

1. Money/metric sums go through DECIMAL then cast to DOUBLE — decimal
   aggregation is exact in both engines, so the final double is bit-equal
   regardless of row/partition order.
2. Averages are computed as exact-decimal-sum :: double / count.
3. Every ranking window pins a total order (unique-id tiebreak).
4. All hash-based ops use the md5-derived h60 primitive (identical across
   engines); no engine-native hash functions in results.
5. Every computed column is aliased identically in the Spark plan and the
   oracle SQL.
6. NO list_reduce/lambda folds in oracle SQL: DuckDB 1.0 returns wrong
   results for list_reduce fused into a parallel grouped aggregate
   (observed: per-cell correct when filtered, wrong over the full table).
   Order-sensitive reductions are expressed as window row_number + joins,
   or sidestepped by quantizing addends to integers (order-free sums).
7. ROUND on a DOUBLE is engine-divergent on tie-adjacent values (verified:
   Spark round(1.005d, 2) = 1.01 via shortest-repr HALF_UP, DuckDB
   ROUND(1.005::DOUBLE, 2) = 1.00 via float rounding). Round in exact
   DECIMAL before any double cast (money paths), or replace the round
   with an integer floor division (ks_drift's d_stat pattern) for
   ratio-of-integer statistics. ROUND(double, 6) on organically-computed
   ratios is tolerated in legacy entries (ties there require a 7-digit
   shortest repr ending in 5 — never observed across three rounds and
   three scale factors) but new entries should use the integer forms.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

# catalog runners (bench, perfbench, tools/) drain the ledger from here
from ..storage import release_deferred  # noqa: F401


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None          # ANSI SQL for DuckDB; None -> rows-only check
    ops: str                    # SURVEY.md §2 operator ids covered
    bench: bool = False         # include in bench.py headline set


# State-store partitions for the catalog's streaming aggregations; see
# drain_memory. A deployment with a larger key volume sets
# spark.sql.shuffle.partitions on its own streaming queries.
STREAM_STATE_PARTITIONS = 8

# recentProgress of the last drain_memory query, one dict per micro-batch
# (numInputRows, eventTime, ...): how the drain was batched, for tests
LAST_DRAIN_PROGRESS: list[dict] = []


def drain_memory(stream: DataFrame, sink: str, mode: str) -> StreamingQuery:
    """Drain ``stream`` into the memory table ``sink`` in output mode
    ``mode`` under trigger(availableNow): the query consumes everything
    its source holds at start, then terminates. Returns the finished
    query; ``spark.table(sink)`` reads the result and
    LAST_DRAIN_PROGRESS holds its per-batch progress.

    ``spark.sql.shuffle.partitions`` is scoped to STREAM_STATE_PARTITIONS
    around the start and the wait, so the STATE STORE partitioning is
    sized to the aggregation, not to the session's batch default. Every
    state partition pays a fixed per-micro-batch cost (store open, delta
    file write, commit, maintenance) regardless of how many keys it
    holds — measured 2.95 s vs 1.26 s for the 150-key daily rollup drain
    at 32 vs 8 state partitions (the fixed per-partition overhead of
    small tasks, applied to state stores). The right count tracks key
    cardinality and throughput, not the core count; 8 is sized for the
    catalog's ~10^2-key streaming aggregations. Only the streaming query
    binds this number (state layout is fixed at first start); the
    follow-up batch read of the sink runs at the restored session
    default. Results are partitioning-invariant — only placement
    changes."""
    spark = stream.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(STREAM_STATE_PARTITIONS))
    try:
        q = (stream.writeStream.format("memory").queryName(sink)
             .outputMode(mode).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    LAST_DRAIN_PROGRESS[:] = q.recentProgress
    return q


def events_stream(spark: SparkSession, src_dir: str, sample_path: str,
                  **read_options) -> DataFrame:
    """readStream over the events parquet files in ``src_dir``, typed
    like the file ``sample_path``; ``read_options`` go to the reader
    (pathGlobFilter, maxFilesPerTrigger). The nanosecond ``ts`` is read
    as int64 nanos (Spark's reader rejects nanos) and rebuilt as
    TIMESTAMP by integer division to micros; a native TIMESTAMP_NTZ is
    cast, because watermarks need a TIMESTAMP. The session is pinned to
    UTC so window boundaries and field extractions downstream match the
    oracle's naive UTC wall time on any driver."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (spark.readStream.schema(spark.read.parquet(sample_path).schema)
              .options(**read_options).parquet(src_dir))
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


_CLEANUP_REGISTERED: set[str] = set()


def scratch_dir(tag: str, sf_dir: str) -> str:
    """Path of an entry's scratch dir, ``spark_graft_{tag}_{md5[:8]}_{pid}``
    under the system temp dir (md5 of ``sf_dir``), removed at process
    exit. pid-scoped because bench and parity harnesses run entries
    concurrently, and write-then-read sequences (overwrite/append)
    interleaved across processes would yield mixed files and wrong
    counts. Each process therefore writes fresh copies, which would
    accumulate in the temp dir without bound across harness runs if not
    removed; removing only OUR pid's dirs keeps that race-free, since
    another process's live dir is never touched. The caller creates the
    dir (or lets a writer create it)."""
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_{tag}_{h}_{os.getpid()}")
    if path not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def scoped_cached_plan_aqe(fn):
    """Entry decorator: scope
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` = true
    around a QueryDef.spark callable whose caches are TINY relative to
    the session and whose consumers are per-partition-fixed-cost bound
    (Arrow mapInPandas passes, chains of near-empty stages).

    Spark leaves the flag false by default so a cache's output
    partitioning is stable for downstream reuse — but that also disables
    AQE coalescing on the cache-filling plan, so a 31-row distinct-word
    table caches as 32 near-empty partitions and every Viterbi
    mapInPandas over it launches 32 Python tasks that each pay the
    ~0.25 s fixed Arrow/worker cost for a row or two of work (measured:
    the whole unigram family, a fixed per-partition overhead at the
    Python boundary). Inside the scope AQE right-sizes the cache
    to its actual bytes; at 100 TB the same caches are GB-scale and AQE's
    bytes/parallelism target keeps them wide, so nothing degrades — the
    flag only matters where the cache is small, exactly where the fixed
    cost dominates.

    NOT session-global: the jaccard-star family's shingle-array caches
    feed compute-dense row-local JVM passes, and coalescing them starves
    those cores (measured: leakage_safe_split 1.85 -> 2.46 s,
    dedup_star_survivors 1.30 -> 2.02 s with the flag on) — so each
    entry opts in only where its cache consumers are fixed-cost bound.
    The flag binds when the cache is made: ``storage.pin`` inside the
    scope plans the cached relation under it, so a cache keeps its
    right-sizing when it fills lazily, in a job run after the scope has
    exited. Results are partitioning-invariant per the determinism
    doctrine."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

    @functools.wraps(fn)
    def wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            old = spark.conf.get(key)
        except Exception:
            old = None
        spark.conf.set(key, "true")
        try:
            return fn(spark, sf_dir)
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
    return wrap


def recall_ppm(truth: DataFrame, route: DataFrame, n: str,
               m: str) -> DataFrame:
    """The recall audits' one-row readout: the 1-row truth count ``n``
    crossed with the 1-row route count ``m``, plus recall in exact
    integer ppm (NULL when the truth is empty). sql_recall_ppm is the
    oracle twin."""
    return truth.crossJoin(route).select(
        n, m, F.expr(f"CASE WHEN {n} > 0 THEN {m} * 1000000 div {n} END")
        .alias("recall_ppm"))


def sql_recall_ppm(n: str, m: str, rel: str) -> str:
    """DuckDB twin of :func:`recall_ppm` over the 1-row relation ``rel``."""
    return f"""SELECT {n}, {m},
       CAST(CASE WHEN {n} > 0 THEN {m} * 1000000 // {n} END
            AS BIGINT) AS recall_ppm
FROM {rel}"""


def dec(c, p="18,2"):
    """Exact-decimal cast for money/metric aggregation (determinism rule 1).
    Shared here so every plan module rounds through the SAME precision."""
    return F.col(c).cast(f"decimal({p})")


def cents(col):
    """Quantize a 2-decimal money double to exact integer cents — the
    entry point to the all-integer statistics paths (rule 7). One shared
    definition; the oracle twin is CAST(round(x * 100) AS BIGINT)."""
    if isinstance(col, str):
        col = F.col(col)
    return F.round(col * 100).cast("bigint")


def rank_exact_accuracy(df: DataFrame) -> Column:
    """``percentile_approx`` accuracy that keeps the sketch rank-exact
    over ``df``'s rows: max(1e6, 10*N), so exactness does not silently
    expire when N crosses a fixed accuracy. Costs one count job (a
    bounded scalar probe); at sketch-bound scale, where N exceeds the
    accuracy memory budget, pin a fixed accuracy instead."""
    return F.lit(max(1_000_000, 10 * df.count()))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table.

    The events table is written with nanosecond timestamps, which Spark's
    parquet reader rejects; read them as int64 nanos and convert losslessly
    (the generator emits microsecond-aligned values) with integer division —
    double division would lose precision above 2^53 epoch-nanos.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # rebuild as TIMESTAMP_NTZ (not timestamp_micros -> LTZ): the
            # oracle engine reads nanos as naive UTC wall time, and LTZ
            # would re-render every year/month/hour extraction through the
            # session zone — a silent divergence on any non-UTC driver
            df = df.withColumn(
                "ts", F.expr("timestampadd(MICROSECOND, ts div 1000, "
                             "TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
        return df
    return spark.read.parquet(path)


def event_micros(events: DataFrame) -> Column:
    """Integer microseconds of a :func:`load`-ed events ``ts``: measured
    from 2000-01-01 for a native TIMESTAMP_NTZ (timestampdiff keeps the
    session zone out), from the Unix epoch otherwise. The epochs differ,
    so only differences and same-offset bins of this value are
    meaningful."""
    if dict(events.dtypes)["ts"] == "timestamp_ntz":
        return F.expr("timestampdiff(MICROSECOND, "
                      "TIMESTAMP_NTZ '2000-01-01 00:00:00', ts)")
    return F.expr("unix_micros(ts)")
