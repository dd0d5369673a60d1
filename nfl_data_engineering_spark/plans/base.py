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

import functools
import os
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..storage import (park_frame, park_ids, registry_rdd_ids,
                       release_frame, release_parked)


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None          # ANSI SQL for DuckDB; None -> rows-only check
    ops: str                    # SURVEY.md §2 operator ids covered
    bench: bool = False         # include in bench.py headline set


# State-store partitions for the catalog's streaming aggregations; see
# stream_state_partitions. A deployment with a larger key volume sets
# spark.sql.shuffle.partitions on its own streaming queries.
STREAM_STATE_PARTITIONS = 8


@contextmanager
def stream_state_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` around a streaming query's
    start/awaitTermination so its STATE STORE partitioning is sized to the
    aggregation, not to the session's batch default.

    Every state partition pays a fixed per-micro-batch cost (store open,
    delta file write, commit, maintenance) regardless of how many keys it
    holds — measured 2.95 s vs 1.26 s for the 150-key daily rollup drain
    at 32 vs 8 state partitions (guide §2.2's fixed-per-partition overhead
    applied to state stores). The right count tracks key cardinality and
    throughput, not the core count; STREAM_STATE_PARTITIONS (8) is sized
    for the catalog's ~10^2-key streaming aggregations. Only the streaming
    query started inside the scope binds this number (state layout is
    fixed at first start); the follow-up batch read of the sink runs at
    the restored session default. Results are partitioning-invariant —
    only placement changes."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


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
    the whole unigram family, guide §2.2's fixed-per-partition overhead
    at the Python boundary). Inside the scope AQE right-sizes the cache
    to its actual bytes; at 100 TB the same caches are GB-scale and AQE's
    bytes/parallelism target keeps them wide, so nothing degrades — the
    flag only matters where the cache is small, exactly where the fixed
    cost dominates.

    NOT session-global: the jaccard-star family's shingle-array caches
    feed compute-dense row-local JVM passes, and coalescing them starves
    those cores (measured: leakage_safe_split 1.85 -> 2.46 s,
    dedup_star_survivors 1.30 -> 2.02 s with the flag on) — so each
    entry opts in only where its cache consumers are fixed-cost bound.
    The flag must be set while the cache MATERIALIZES (every scoped
    entry fills its caches eagerly inside the scope); results are
    partitioning-invariant per the determinism doctrine."""
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


def _no_finalize() -> bool:
    """Opt-out flag, truthy ONLY for explicit on-values — '0'/'false'/''
    keep finalization ON (ADVICE r5: any-non-empty was backwards for a
    user exporting SPARK_GRAFT_NO_FINALIZE=0)."""
    return os.environ.get("SPARK_GRAFT_NO_FINALIZE", "").lower() in (
        "1", "true", "yes")


def _reliable_checkpoint() -> bool:
    """Cluster-mode switch (VERDICT r6 item 7): swap finalize()'s eager
    localCheckpoint — non-replicated executor-local blocks, unrecoverable
    on executor loss — for a RELIABLE checkpoint written under the
    context's checkpoint dir (HDFS/S3 on a real cluster). The caller must
    have run spark.sparkContext.setCheckpointDir(...) first; Spark raises
    if not. Same explicit-true parsing as the opt-out flag."""
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "").lower() in (
        "1", "true", "yes")


def finalize(result: DataFrame, *held: DataFrame,
             pair_table: bool = False) -> DataFrame:
    """Release an entry's fan-out storage without losing its benefit:
    materialize `result` executor-side (eager localCheckpoint — the
    cached intermediates are read exactly once more, no driver
    round-trip), then release every `held` frame: unpersist a cache, or
    unpersist a checkpointed helper frame's ``_ckpt_ids`` (the connected-
    components labels, the BPE token table). Without this, a session
    running the full query catalog accumulates storage-memory entries
    for the life of the SparkSession (ADVICE r4). The trade is
    materializing the (small, post-filter) RESULT to release the (large,
    pre-aggregation) intermediates — the same move as writing a stage's
    output and dropping its scratch tables on a cluster.

    Lifetime: whatever an entry pins — this checkpoint, and the caches
    ``pair_table`` parks — lives until the runner's next
    release_deferred(). The ledger holds the checkpoint's registry ids,
    not the frame, so a caller that never drains it still gets
    ContextCleaner release once the returned frame is garbage.

    Two trade-offs a cluster deployment must know (ADVICE r5):

    * localCheckpoint stores NON-REPLICATED executor-local blocks with
      lineage truncated — an executor loss makes the returned frame
      unrecoverable (cache() could recompute; checkpoint cannot). Fine
      in local mode and for driver-collected results; a long-lived
      cluster pipeline sets SPARK_GRAFT_RELIABLE_CHECKPOINT=1 (plus
      sparkContext.setCheckpointDir to a durable path) to swap in a
      reliable checkpoint — files under the checkpoint dir, so nothing
      is parked — tested in tests/test_finalize.py.
    * finalization makes the QueryDef.spark() call EAGERLY execute the
      query at plan-construction time. Plan-only consumers (explain
      dumps, schema checks, tools/audit_plans.py) must set
      SPARK_GRAFT_NO_FINALIZE=1 to get the raw lazy plan back; nothing
      is released then, since that plan still reads every held frame
      (acceptable in one-off processes).

    ``pair_table=True`` marks entries whose RESULT is the largest frame
    in the plan (pair-enumeration outputs: ~10^8 legitimate rows at the
    100x replica for the minhash baseline — SCALE.md). Eagerly
    checkpointing that to executor storage to free two SMALLER caches
    would invert the "small result, large intermediates" trade, so
    instead the raw plan is returned and the held caches are parked:
    they stay hot through the result's consumption (the pair plan reads
    them)."""
    if _no_finalize():
        return result
    if pair_table:
        for h in held:
            park_frame(h)
        return result
    if _reliable_checkpoint():
        out = result.checkpoint(eager=True)
    else:
        # the registry diff may also catch cache blocks this job filled;
        # those unpersist below and unpersist_rdd_ids skips absent ids
        spark = result.sparkSession
        before = registry_rdd_ids(spark)
        out = result.localCheckpoint(eager=True)
        park_ids(spark, registry_rdd_ids(spark) - before)
    for h in held:
        release_frame(h)
    return out


def release_deferred() -> int:
    """Release everything catalog entries parked since the last call
    (storage.release_parked: checkpoint ids and pair_table caches);
    returns how many storage entries were freed. Idempotent; catalog
    runners call it between entries."""
    return release_parked()


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


def events_stream_schema(spark: SparkSession, path: str) -> StructType:
    """Schema for a streaming read of events parquet files like ``path``:
    the nanosecond ``ts`` is read as int64 nanos (Spark's reader rejects
    nanos) and the session pinned to UTC, so the window boundaries and
    field extractions downstream match the oracle's naive UTC wall time.
    Pair the stream with :func:`decode_stream_ts`."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(path).schema


def decode_stream_ts(stream: DataFrame) -> DataFrame:
    """Rebuild a streamed events ``ts`` as TIMESTAMP: int64 nanos by
    integer division to micros, a native TIMESTAMP_NTZ by cast (the
    session is UTC, see events_stream_schema)."""
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


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
