"""Training-data pipeline + metadata-op query catalog.

Covers the remaining SURVEY.md §2 ids that are pure metadata/plumbing
(T6 column-name normalization, T7 literal column insert, T15 row renumber),
a genuine Structured Streaming entry for §2.9 (file stream -> watermarked
tumbling windows -> memory sink, oracle-checked against the batch twin),
and the sampling/splitting/vocab ops a 100 TB training-data pipeline needs:

- deterministic stratified sampling (hash-gated, per-stratum rates — no RNG,
  so resumable and engine-portable),
- train/test split by key hash (stable across runs and engines),
- vocabulary building with document frequency (the n-gram/vocab prep step).

All hashing uses the md5-derived h60 primitive so the DuckDB oracle
reproduces results bit-for-bit.
"""

from __future__ import annotations

import os
from contextlib import suppress

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h60, h60_sql
from ..functions.text import tokens
from ..localdf import local_df
from ..storage import park_frame, pin, release_frame
from .base import (QueryDef, drain_memory, event_micros, events_stream,
                   load, scratch_dir, scoped_cached_plan_aqe)

# the one DuckDB-side twin of functions.text.tokens(); every oracle that
# tokenizes MUST use this constant so a tokenizer change can't half-apply
SQL_TOKENS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')"


# ---------------------------------------------------------------------------
# T6/T7/T15: metadata ops — rename-normalize, literal columns, renumber
# ---------------------------------------------------------------------------

def q_rename_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6+T7+T15: the scraper's column-name normalization contract
    (team_rankings_scraper.py:84-125 lowercase/de-space/prefix) applied as a
    pure-metadata select (no shuffle), a literal date + load timestamp column
    (T7, team_rankings_scraper.py:34-46), and a deterministic row renumber
    (T15 — reference reset_index, here row_number over a pinned total order).
    """
    sup = load(spark, sf_dir, "supplier")
    # {category}_{table}_{col} naming applied to supplier "metrics"
    renamed = sup.select(
        F.col("s_suppkey").alias("team"),
        F.col("s_acctbal").alias("rankings_supplier_acct_bal"),
        F.col("s_nationkey").alias("rankings_supplier_nation_key"))
    stamped = (renamed
               .withColumn("date", F.lit("2025-11-03").cast("date"))
               .withColumn("load_ts",
                           F.lit("2025-11-03 12:00:00").cast("timestamp")))
    w = F.row_number().over(
        Window.orderBy(F.col("rankings_supplier_acct_bal").desc(),
                       F.col("team")))
    return stamped.select(
        w.alias("row_num"), "team", "rankings_supplier_acct_bal",
        "rankings_supplier_nation_key",
        F.date_format("date", "yyyy-MM-dd").alias("date"), "load_ts")


ORACLE_RENAME_NORMALIZE = """
SELECT row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS row_num,
       s_suppkey AS team,
       s_acctbal AS rankings_supplier_acct_bal,
       s_nationkey AS rankings_supplier_nation_key,
       strftime(DATE '2025-11-03', '%Y-%m-%d') AS date,
       TIMESTAMP '2025-11-03 12:00:00' AS load_ts
FROM supplier
"""


# ---------------------------------------------------------------------------
# §2.9: genuine Structured Streaming entry (oracle-checked)
# ---------------------------------------------------------------------------

def q_streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming run, not a batch stand-in: the events
    parquet is consumed via readStream (file source), aggregated into
    epoch-aligned 1-day tumbling windows with an event-time watermark, and
    emitted complete-mode into a memory sink with trigger(availableNow).
    With availableNow the stream drains the full input then terminates, so
    the result equals the batch rollup — which is exactly what the DuckDB
    oracle computes. Day windows are epoch-aligned, so window.start ==
    date_trunc('day') in UTC on both engines; the shared _event_stream
    helper pins the session zone to UTC so the day boundaries (and the
    window.start wall clock) cannot shift on a non-UTC driver.
    """
    agg = (_event_stream(spark, sf_dir)
           .withWatermark("ts", "1 day")
           .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                 .alias("sum_value")))
    sink = "streaming_daily_rollup_sink"
    drain_memory(agg, sink, "complete")
    return (spark.table(sink)
            .select(F.col("w.start").alias("day"), "event_type", "n",
                    "sum_value"))


ORACLE_STREAMING_DAILY = """
SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 OVERLAPPING sliding windows over a stream (window 1 day,
    slide 12 h) next to the tumbling q_streaming_daily_rollup: every event
    feeds window/slide = 2 open windows, the state pattern behind
    '24 h metrics refreshed every 12 h' dashboards. Same availableNow
    drain discipline — the stream consumes the full input then
    terminates, so the result equals the batch semantics the oracle
    computes: each event contributes to the two epoch-aligned 12 h-start
    windows covering it (starts at floor(ts/12h)*12h − k*12h, k∈{0,1} —
    always exactly two, no boundary filter needed). Watermark bounds
    state to watermark + window per key either way; UTC pinned by
    _event_stream so window.start wall-clock matches the oracle's naive
    epoch arithmetic on any driver."""
    agg = (_event_stream(spark, sf_dir)
           .withWatermark("ts", "1 day")
           .groupBy(F.window("ts", "1 day", "12 hours").alias("w"),
                    "event_type")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                 .alias("sum_value")))
    sink = "streaming_sliding_rollup_sink"
    drain_memory(agg, sink, "complete")
    return (spark.table(sink)
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "sum_value"))


ORACLE_STREAMING_SLIDING = """
WITH k AS (SELECT unnest(generate_series(0, 1)) AS k)
SELECT TIMESTAMP '1970-01-01'
         + to_seconds((CAST(epoch(ts::TIMESTAMP) AS BIGINT) // 43200)
                      * 43200 - k.k * 43200) AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events CROSS JOIN k
GROUP BY 1, 2
"""


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata events table as a stream (base.events_stream: UTC
    session, ts rebuilt as TIMESTAMP so watermarks accept it)."""
    path = os.path.join(sf_dir, "events.parquet")
    return events_stream(spark, sf_dir, path, pathGlobFilter="events.parquet")


def q_streaming_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 custom stateful operator, run for real: keep-latest-per-key
    over a stream via ``applyInPandasWithState`` (streaming/ingest.py:
    keep_latest_stream — the reference's rankings upsert,
    team_rankings_data_collector.py:34-50, as continuously-maintained
    state). The drain is trigger(availableNow) into an update-mode memory
    sink; the update stream emits each key's current latest per
    microbatch, so the sink's LAST emission per key is the final state —
    which is exactly the batch keep-latest the oracle computes. event_id
    is the deterministic tiebreak at equal ts, threaded through the
    stateful comparator, the sink-side selection window, AND the oracle's
    ORDER BY — so a ts tie at any scale yields one pinned answer instead
    of an arrival-order-dependent one."""
    from ..streaming.ingest import keep_latest_stream
    latest = keep_latest_stream(_event_stream(spark, sf_dir),
                                key_cols=["user_id", "event_type"],
                                ts_col="ts", value_cols=["value"],
                                tiebreak_cols=["event_id"])
    sink = "streaming_keep_latest_sink"
    drain_memory(latest, sink, "update")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (spark.table(sink)
            .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
            .select("user_id", "event_type", "ts", "value"))


ORACLE_STREAMING_KEEP_LATEST = """
SELECT user_id, event_type, ts, value FROM (
  SELECT user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def _purchase_click_join(stream: DataFrame, how: str, sink: str) -> DataFrame:
    """Purchases of the events ``stream`` interval-joined (``how``) to the
    same user's clicks from the preceding hour
    (streaming/ingest.py:interval_join_streams), drained append-mode into
    the memory table ``sink``; returns the sink as (user_id, purchase_ts,
    purchase_event_id, click_ts, click_event_id)."""
    from ..streaming.ingest import interval_join_streams
    purchases = (stream.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "event_id"))
    clicks = (stream.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id"))
    joined = interval_join_streams(purchases, clicks, key="user_id",
                                   ts_col="ts", lookback="1 hour",
                                   watermark="1 day", how=how)
    drain_memory(joined, sink, "append")
    return (stream.sparkSession.table(sink)
            .select("user_id", F.col("ts").alias("purchase_ts"),
                    F.col("event_id").alias("purchase_event_id"),
                    F.col("ts_r").alias("click_ts"),
                    F.col("event_id_r").alias("click_event_id")))


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream join, run for real: purchases joined to the same
    user's clicks from the preceding hour (streaming/ingest.py:
    interval_join_streams — watermarks on both sides + a bounded time-range
    condition keep join state finite, the shape that runs forever at
    100 TB/day). Inner interval joins emit matches eagerly, so the
    availableNow drain of a finite input yields exactly the batch range
    join the oracle computes."""
    return _purchase_click_join(_event_stream(spark, sf_dir), "inner",
                                "streaming_interval_join_sink")


ORACLE_STREAMING_INTERVAL_JOIN = """
SELECT p.user_id, p.ts AS purchase_ts, p.event_id AS purchase_event_id,
       c.ts AS click_ts, c.event_id AS click_event_id
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def _flush_staged_stream(spark: SparkSession, sf_dir: str, tag: str):
    """Stage the events file plus a far-future flush sentinel (one
    purchase + one click, user_id -1, max ts + 30 days) into a
    pid-scoped stream source dir and return the ts-normalized
    readStream. The sentinel advances the watermark past every real
    row, so append-mode finalization (outer-join null emission, window
    eviction) drains deterministically under trigger(availableNow) via
    the no-data batch (SPARK-24156). Callers filter user_id -1 out of
    results; the sentinel file sorts last (zz_) so real data is never
    late relative to it even if the source splits batches. Returns
    (stream, flush_ts). CAUTION: do not filter the sentinel out between
    withWatermark and the source — Catalyst pushes the filter below the
    EventTimeWatermark operator, so the sentinel never reaches the
    watermark tracker and the flush silently stops working; exclude it
    from the RESULT (by user_id or by its flush_ts window) instead."""
    import shutil
    from datetime import timedelta

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src_dir = scratch_dir(tag, sf_dir)
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(src_dir, "aa_events.parquet"))
    tbl = pq.read_table(src)
    flush_ts = pc.max(tbl.column("ts")).as_py() + timedelta(days=30)
    sent = pa.table(
        {"event_id": [-1, -2], "ts": [flush_ts, flush_ts],
         "user_id": [-1, -1], "event_type": ["purchase", "click"],
         "value": [0.0, 0.0], "props": ["{}", "{}"]},
        schema=tbl.schema.remove_metadata())
    pq.write_table(sent, os.path.join(src_dir, "zz_flush.parquet"))

    return events_stream(spark, src_dir, src), flush_ts


def q_streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream LEFT OUTER interval join, run for real: the
    click-attribution shape where purchases WITHOUT a preceding click
    must still come out (null-padded) — the semantics inner joins silently
    drop. Outer rows are special in streaming: Spark may only emit an
    unmatched left row after the watermark proves no matching right row
    can still arrive, so a finite drain leaves rows younger than the
    final watermark stuck in state. This entry makes the flush
    deterministic the production way — advancing the watermark past the
    data — by staging the events file alongside a far-future flush
    sentinel on both input branches (user_id -1, filtered from the
    result); after the sentinel the no-data batch (SPARK-24156) evicts
    and emits every remaining unmatched purchase. State stays bounded by
    watermark + lookback per the inner-join analysis
    (streaming/ingest.py:interval_join_streams); the oracle is the plain
    batch LEFT JOIN over the single copy."""
    stream, _ = _flush_staged_stream(spark, sf_dir, "lojstream")
    return (_purchase_click_join(stream, "leftOuter",
                                 "streaming_left_outer_join_sink")
            .filter(F.col("user_id") >= 0))


ORACLE_STREAMING_LEFT_OUTER_JOIN = """
SELECT p.user_id, p.ts AS purchase_ts, p.event_id AS purchase_event_id,
       c.ts AS click_ts, c.event_id AS click_event_id
FROM events p LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase'
"""


def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream FULL OUTER interval join — the last join mode
    (inner and leftOuter have their own entries): unmatched rows from
    BOTH sides must surface, i.e. purchases with no preceding click AND
    clicks that never led to a purchase within the hour. The right side's
    outer rows are the subtle half: a click is provably unmatched only
    when the watermark passes the END of its forward join window
    (click_ts + lookback — some future purchase could still claim it),
    so the flush sentinel on both branches is what lets a finite drain
    emit them. The engine folds the right key into the left before
    dropping it (streaming/ingest.py:interval_join_streams) — without
    that coalesce every unmatched click would come out keyless. Oracle:
    the plain batch FULL JOIN under the identical interval condition."""
    stream, _ = _flush_staged_stream(spark, sf_dir, "fojstream")
    return (_purchase_click_join(stream, "fullOuter",
                                 "streaming_full_outer_join_sink")
            .filter(F.col("user_id") >= 0))


ORACLE_STREAMING_FULL_OUTER_JOIN = """
SELECT COALESCE(p.user_id, c.user_id) AS user_id,
       p.ts AS purchase_ts, p.event_id AS purchase_event_id,
       c.ts AS click_ts, c.event_id AS click_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
"""


def q_streaming_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a QUERY RESTART — the checkpoint contract the
    other §2.9 entries never exercise because they drain once: run 1
    consumes the first half of the archive into a parquet sink under a
    checkpoint; then the second half lands in the source and a BRAND NEW
    query object (same checkpoint, same sink) resumes. The offset log
    must skip everything run 1 committed and the file-sink commit log
    must make its output visible exactly once — replaying half 1 doubles
    early days, losing it drops them, and a dirty sink listing would
    double-read; any of those breaks the hash against the batch rollup
    of the full table. This is the crash/redeploy story: the second
    query IS a restart in every way that matters (fresh plan, fresh
    query id, recovered state)."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src_dir, sink_dir, ckpt_dir = (scratch_dir(f"ckrestart_{d}", sf_dir)
                                   for d in ("src", "sink", "ckpt"))
    for d in (src_dir, sink_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src_dir)
    src = os.path.join(sf_dir, "events.parquet")
    tbl = pq.read_table(src)
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half),
                   os.path.join(src_dir, "chunk_00.parquet"))

    rows = (events_stream(spark, src_dir, src)
            .select("event_id", "ts", "event_type", "value"))

    def drain() -> None:
        q = (rows.writeStream.format("parquet")
             .option("path", sink_dir)
             .option("checkpointLocation", ckpt_dir)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    drain()                                   # run 1: first half only
    pq.write_table(tbl.slice(half, tbl.num_rows - half),
                   os.path.join(src_dir, "chunk_01.parquet"))
    drain()                                   # run 2: restart, second half
    back = spark.read.parquet(sink_dir)
    return (back.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("sum_value")))


ORACLE_STREAMING_CKPT_RESTART = """
SELECT date_trunc('day', ts)::TIMESTAMP AS day, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_streaming_append_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 APPEND-mode windowed aggregation — the third output-mode
    semantics next to complete (q_streaming_daily_rollup) and update
    (q_streaming_sliding_rollup): each daily window is emitted EXACTLY
    ONCE, only after the watermark proves it closed — the mode a
    downstream append-only sink (parquet, Kafka) requires, where
    re-emission would double-count. A window younger than the final
    watermark would simply never appear in a finite drain, so the flush
    sentinel (_flush_staged_stream) advances the watermark past all real
    data and the no-data batch finalizes every window; a hash match with
    the batch rollup over the single copy proves completeness (no window
    stuck in state) AND exactly-once emission (no window doubled)."""
    stream, flush_ts = _flush_staged_stream(spark, sf_dir, "approllup")
    agg = (stream.withWatermark("ts", "1 day")
           .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
           .agg(F.count("*").alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                 .cast("double").alias("sum_value")))
    sink = "streaming_append_rollup_sink"
    drain_memory(agg, sink, "append")
    # the sentinel sits 30 days past the real max, so a cutoff 15 days
    # before flush cleanly separates its window from every real one
    from datetime import timedelta
    cutoff = flush_ts - timedelta(days=15)
    return (spark.table(sink)
            .filter(F.col("w.start") < F.lit(cutoff))
            .select(F.col("w.start").alias("day_start"), "event_type",
                    "n", "sum_value"))


ORACLE_STREAMING_APPEND_ROLLUP = """
SELECT date_trunc('day', ts) AS day_start, event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Training-pipeline: sampling / splitting / vocab
# ---------------------------------------------------------------------------

SAMPLE_RATES_PERMILLE = {"en": 300, "es": 150, "fr": 150, "de": 150, "zh": 100}
DEFAULT_RATE_PERMILLE = 50


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a document iff
    h60('sample_' || doc_id) % 1000 < rate(lang). Hash-gated sampling is the
    100 TB shape — a pure row-local filter (pushable, no shuffle, no RNG
    state), reproducible across engines, resumable across reruns, and the
    per-stratum rate rebalances skewed language mixes."""
    docs = load(spark, sf_dir, "documents")
    gate = h60(F.concat(F.lit("sample_"), F.col("doc_id").cast("string"))) % 1000
    rate = F.lit(DEFAULT_RATE_PERMILLE)
    for lang, r in sorted(SAMPLE_RATES_PERMILLE.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (docs.filter(gate < rate)
            .groupBy("lang")
            .agg(F.count("*").alias("n_sampled"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id")))


def q_streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 native session windows, run for real: readStream ->
    session_window(ts, 30 min) per user — a session stays open in state
    while events keep arriving within the gap, merges across microbatches,
    and its window is [first_ts, last_ts + gap). Complete-mode drain under
    trigger(availableNow) materializes every session including still-open
    ones, which equals the batch gaps-and-islands computation the oracle
    runs (new session iff the gap to the previous event is >= 30 min —
    session windows are half-open). State is O(open sessions), the shape
    that sessionizes an unbounded feed at 100 TB/day."""
    stream = _event_stream(spark, sf_dir)
    agg = (stream
           .withWatermark("ts", "1 day")
           .groupBy("user_id",
                    F.session_window("ts", "30 minutes").alias("w"))
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                 .alias("sum_value")))
    sink = "streaming_sessionization_sink"
    drain_memory(agg, sink, "complete")
    return (spark.table(sink)
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "sum_value"))


ORACLE_STREAMING_SESSIONIZATION = """
WITH l AS (
  SELECT user_id, ts, value, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
g AS (
  SELECT *, SUM(CASE WHEN prev IS NULL
                       OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
  FROM l)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM g GROUP BY user_id, sid
"""


BPE_STEPS = 3


def _bpe_loop(tok: DataFrame, steps: int):
    """The shared BPE merge loop (see q_bpe_merge_train for the greedy
    left-to-right-as-windows derivation). Returns the token table after
    ``steps`` merge rounds plus the per-round (step, left, right,
    n_merged) log. Both the trainer (which reports the log) and the
    encoder (which reports the rewritten corpus) run THIS loop, so the
    two catalog entries check the same dataflow from two angles.

    Storage discipline: step N's eager checkpoint reads step N-1's, so
    once N materializes, N-1's blocks are dead — released EXPLICITLY by
    its own frame (storage.release_frame, as the CC min-label loop does)
    instead of waiting on the ContextCleaner's GC pace (a lost py4j
    detach pins a block for the session's life; a BPE_STEPS-deep loop
    otherwise piles up one pinned checkpoint per round until GC). A
    mid-loop failure releases the live step checkpoints before
    propagating. The FINAL table is returned still persisted: the
    trainer drops the table and releases it at once; the encoder parks
    it (storage.park_frame)."""
    out_rows = []
    live: list[DataFrame] = []   # this call's unreleased steps
    try:
        for step in range(1, steps + 1):
            wdoc = Window.partitionBy("doc_id").orderBy("pos")
            cur = tok.withColumn("nxt", F.lead("t").over(wdoc))
            top = (cur.filter(F.col("nxt").isNotNull())
                   .groupBy("t", "nxt").agg(F.count("*").alias("c"))
                   .orderBy(F.col("c").desc(), "t", "nxt").limit(1)
                   .collect())
            if not top:
                # no adjacent pairs anywhere (degenerate corpus): mirror the
                # oracle's empty-CTE scalar subqueries — NULL pair, 0 merges
                out_rows += [(s, None, None, 0)
                             for s in range(step, steps + 1)]
                break
            a, b = top[0]["t"], top[0]["nxt"]
            # islands of consecutive equal tokens; parity gates left==right
            seg = (F.col("pos")
                   - F.row_number().over(Window.partitionBy("doc_id", "t")
                                         .orderBy("pos")))
            cur = cur.withColumn("seg", seg)
            off = (F.col("pos")
                   - F.min("pos").over(
                       Window.partitionBy("doc_id", "t", "seg")))
            is_pair = (F.col("t") == a) & (F.col("nxt") == F.lit(b))
            allowed = F.lit(a != b) | (off % 2 == 0)
            cur = cur.withColumn("m", is_pair & allowed)
            cur = cur.withColumn(
                "consumed", F.coalesce(F.lag("m").over(wdoc), F.lit(False)))
            n_merged = cur.filter("m").count()
            out_rows.append((step, a, b, n_merged))
            tok = (cur.filter(~F.col("consumed"))
                   .select("doc_id",
                           F.row_number().over(wdoc).alias("pos"),
                           F.when(F.col("m"),
                                  F.concat_ws("_", F.lit(a), F.lit(b)))
                            .otherwise(F.col("t")).alias("t"))
                   .localCheckpoint(eager=True))
            live.append(tok)
            if len(live) == 2:
                release_frame(live.pop(0))   # step N-1: dead once N exists
    except BaseException:
        for f in live:
            with suppress(Exception):    # a dead session has no blocks
                release_frame(f)
        raise
    return tok, out_rows                     # final table: caller releases


def q_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training, the tokenizer-building inner loop, as iterative
    relational ops: BPE_STEPS rounds of (count adjacent token pairs ->
    pick the most frequent -> merge every non-overlapping occurrence
    left-to-right). Word-level pairs here (the corpus is word soup); the
    relational formulation is representation-agnostic.

    The greedy left-to-right merge is NOT a sequential fold: a position
    merges iff it starts the pair and — when left==right — sits at an
    EVEN offset within its island of consecutive equal tokens
    (gaps-and-islands + parity, e.g. 'a a a' -> [a_a, a]); a position is
    consumed iff its predecessor merged. That window formulation is
    expressed IDENTICALLY in Spark and the staged DuckDB oracle, so the
    oracle checks the full iterative pipeline, not a proxy. Per round:
    one pair-count shuffle + one window pass; the driver reads back only
    the single best pair (a scalar, like the components convergence sum).
    Lineage is checkpoint-truncated per round — the 100 TB shape for any
    iterate-on-a-table loop. Tie-break on (count desc, pair asc) pins
    the learned merge list on both engines."""
    tok = (load(spark, sf_dir, "documents")
           .select("doc_id", F.posexplode(tokens(F.col("text")))
                   .alias("pos", "t")))
    final_tok, out_rows = _bpe_loop(tok, BPE_STEPS)
    # the trainer reports only the merge log — the final token table's
    # checkpoint is dead on arrival; release it explicitly
    release_frame(final_tok)
    return local_df(
        spark, out_rows,
        "step int, left_tok string, right_tok string, n_merged bigint")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY — the other half of the BPE lifecycle: run the
    trained merge list over the corpus and report each document's token
    count before/after plus the integer-ppm compression ratio. Re-runs
    the same _bpe_loop the trainer checks (merge list derivation + greedy
    application are one dataflow), then aggregates the rewritten token
    table per document — so this entry hash-verifies the ENCODED CORPUS
    itself, not just the learned merges (a merge list can be right while
    the application pass is off-by-one at island boundaries; counting the
    surviving tokens per doc catches exactly that). At 100 TB the apply
    pass is the dominant cost and shape: per-doc windows over the token
    table, no cross-doc shuffle beyond the pair counts, checkpoint-
    truncated lineage per round. Ratio is floor integer ppm (rule 7 —
    no float division crosses the engine boundary)."""
    base = (load(spark, sf_dir, "documents")
            .select("doc_id", F.posexplode(tokens(F.col("text")))
                    .alias("pos", "t")))
    encoded, _ = _bpe_loop(base, BPE_STEPS)
    n_before = base.groupBy("doc_id").agg(
        F.count("*").alias("n_base_tokens"))
    n_after = encoded.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"))
    # the lazy rollup reads the encoded table's final checkpoint: it stays
    # registered until the next entry starts or release_deferred()
    park_frame(encoded)
    return (n_before.join(n_after, "doc_id")
            .select("doc_id", "n_base_tokens", "n_tokens",
                    F.expr("n_tokens * 1000000 div n_base_tokens")
                     .alias("compression_ppm")))


def _bpe_oracle() -> str:
    tok_expr = SQL_TOKENS
    ctes = [f"""t0 AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS t
  FROM (SELECT doc_id, {tok_expr} AS tk FROM documents))"""]
    selects = []
    for s in range(1, BPE_STEPS + 1):
        p, q = s - 1, s
        ctes.append(f"""c{q} AS (
  SELECT doc_id, pos, t,
         lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM t{p}),
b{q} AS (
  SELECT t AS a, nxt AS b, COUNT(*) AS c FROM c{q} WHERE nxt IS NOT NULL
  GROUP BY t, nxt ORDER BY c DESC, a, b LIMIT 1),
m{q} AS (
  SELECT c.doc_id, c.pos, c.t, b.a, b.b,
         (c.t = b.a AND c.nxt = b.b AND
          (b.a != b.b OR
           (c.pos - MIN(c.pos) OVER (PARTITION BY c.doc_id, c.t, c.seg))
             % 2 = 0)) AS m
  FROM (SELECT *,
               pos - row_number() OVER (PARTITION BY doc_id, t
                                        ORDER BY pos) AS seg
        FROM c{q}) c CROSS JOIN b{q} b),
e{q} AS (
  SELECT *,
         COALESCE(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
           AS consumed
  FROM m{q}),
t{q} AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         CASE WHEN m THEN a || '_' || b ELSE t END AS t
  FROM e{q} WHERE NOT consumed)""")
        selects.append(
            f"SELECT {s} AS step, (SELECT a FROM b{q}) AS left_tok, "
            f"(SELECT b FROM b{q}) AS right_tok, "
            f"CAST((SELECT COUNT(*) FROM e{q} WHERE m) AS BIGINT) AS n_merged")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects), ctes)


def _bpe_encode_oracle(ctes: list[str]) -> str:
    """Encode-side oracle: the SAME staged merge CTEs, but the final read
    is the rewritten token table t{BPE_STEPS} aggregated per document
    (before/after counts + floor-ppm compression)."""
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT b.doc_id, b.n_base_tokens, a.n_tokens,
       a.n_tokens * 1000000 // b.n_base_tokens AS compression_ppm
FROM (SELECT doc_id, COUNT(*) AS n_base_tokens FROM t0 GROUP BY 1) b
JOIN (SELECT doc_id, COUNT(*) AS n_tokens FROM t{BPE_STEPS} GROUP BY 1) a
  USING (doc_id)""")


ORACLE_BPE_MERGE_TRAIN, _BPE_CTES = _bpe_oracle()
ORACLE_BPE_ENCODE = _bpe_encode_oracle(_BPE_CTES)


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer: EM train + apply
# (completes the tokenizer-training story next to BPE)
# ---------------------------------------------------------------------------

# Candidate pieces are within-word char n-grams up to this length.
UNIGRAM_MAX_PIECE = 3
# Seed vocab = ALL single chars (coverage guarantee: Viterbi can always
# fall back to char-by-char, so no word is unsegmentable) + the top-K
# bigrams and top-K trigrams by weighted occurrence count (ties pinned
# on piece asc — both engines binary-collate ASCII identically).
UNIGRAM_SEED_PER_N = 20
# Pinned EM rounds (hard-EM / Viterbi, the SentencePiece practical form):
# each round = segment every distinct word under the current piece
# scores, re-estimate scores from the weighted piece counts (+1 Laplace
# so zero-count pieces stay finite). The oracle unrolls exactly this
# many rounds.
UNIGRAM_EM_ROUNDS = 2
# Words are truncated to this many chars BEFORE anything else (both
# engines): bounds the DP depth per word at 100 TB without a
# data-dependent knob. Corpus max observed is 8, so inert at test SFs.
UNIGRAM_MAX_WORD = 16
# Missing-piece sentinel for the DP, in nano-nats: far below any real
# path score (worst real path ~ 16 chars * ln(1/total)*1e9 ~ -7e11) yet
# safe from int64 overflow when a candidate adds lp to it. The SQL
# replay COALESCEs absent vocab joins to the SAME sentinel so the
# tie-break CASE sees bit-equal candidate scores on both engines.
UNIGRAM_SENT = -(10 ** 15)


def _unigram_words(docs: DataFrame) -> DataFrame:
    """(word, wfreq): DISTINCT truncated words with corpus
    multiplicities — the scale pivot of the whole trainer: every
    downstream pass (seeding, Viterbi, counts) runs over distinct
    words and weights by wfreq, so a 100 TB corpus whose word
    distribution is Zipfian costs one dedup shuffle plus work linear
    in the (vastly smaller) distinct-word count."""
    return (docs.select(F.explode(tokens(F.col("text"))).alias("w"))
            .select(F.substring("w", 1, UNIGRAM_MAX_WORD).alias("word"))
            .groupBy("word").agg(F.count("*").alias("wfreq")))


def _unigram_seed_vocab(words: DataFrame) -> DataFrame:
    """Seed (piece, lp): occurrence-weighted counts of all within-word
    n-grams (n=1..3), chars kept unconditionally, top-K per n>1 by
    (count desc, piece asc); initial score lp = round(ln(c/total)*1e9)
    nano-nats over the SELECTED vocab's count mass (the proven
    integer-quantized-ln pattern of the unigram/KL drift entries)."""
    parts = []
    for n in (1, 2, 3):
        parts.append(
            words.filter(F.length("word") >= n)
            .select(F.explode(F.sequence(
                F.lit(1), F.length("word") - n + 1)).alias("i"),
                "word", "wfreq")
            .select(F.expr(f"substring(word, i, {n})").alias("piece"),
                    "wfreq"))
    occ = (parts[0].unionByName(parts[1]).unionByName(parts[2])
           .groupBy("piece").agg(F.sum("wfreq").alias("c")))
    chars = occ.filter(F.length("piece") == 1)
    top = (occ.filter(F.length("piece") > 1)
           .withColumn("rn", F.row_number().over(
               Window.partitionBy(F.length("piece"))
               .orderBy(F.col("c").desc(), "piece")))
           .filter(F.col("rn") <= UNIGRAM_SEED_PER_N).drop("rn"))
    sel = chars.unionByName(top)
    tot = sel.agg(F.sum("c").alias("tc"))
    return (sel.crossJoin(tot)      # 1-row total: bounded by definition
            .select("piece",
                    F.round(F.log(F.col("c").cast("double")
                                  / F.col("tc").cast("double")) * 1e9, 0)
                    .cast("bigint").alias("lp")))


def _segment_words(words: DataFrame, lp: dict[str, int]) -> DataFrame:
    """Viterbi segmentation of each distinct word under broadcast piece
    scores: one (word, wfreq, piece) row per piece USE in the best
    segmentation. The DP is genuinely imperative (per-position argmax
    with backtracking), so this is the documented Arrow mapInPandas
    slow-path exception; the vocab dict is tiny (chars + 2*K pieces)
    and rides the closure, and the pass is linear in distinct words —
    the 100 TB shape. EVERY arithmetic step mirrors the SQL replay in
    _unigram_oracle() bit-for-bit: integer nano-nat scores, the
    COALESCE-to-sentinel form for absent pieces (dp + SENT, never bare
    SENT, when the dp cell exists), and the c3>=c2>=c1 longest-piece
    tie-break CASE."""
    def gen(batches):
        import pandas as pd
        for pdf in batches:
            out_w: list[str] = []
            out_f: list[int] = []
            out_p: list[str] = []
            for word, wf in zip(pdf["word"], pdf["wfreq"]):
                n = len(word)
                dp = [0] * (n + 1)
                bl = [0] * (n + 1)
                for j in range(1, n + 1):
                    c1 = dp[j - 1] + lp.get(word[j - 1:j], UNIGRAM_SENT)
                    c2 = (dp[j - 2] + lp.get(word[j - 2:j], UNIGRAM_SENT)
                          if j >= 2 else UNIGRAM_SENT)
                    c3 = (dp[j - 3] + lp.get(word[j - 3:j], UNIGRAM_SENT)
                          if j >= 3 else UNIGRAM_SENT)
                    if c3 >= c2 and c3 >= c1:
                        b = 3
                    elif c2 >= c1:
                        b = 2
                    else:
                        b = 1
                    dp[j] = c3 if b == 3 else (c2 if b == 2 else c1)
                    bl[j] = b
                pos = n
                while pos > 0:
                    b = bl[pos]
                    out_w.append(word)
                    out_f.append(wf)
                    out_p.append(word[pos - b:pos])
                    pos -= b
            yield pd.DataFrame(
                {"word": out_w, "wfreq": out_f, "piece": out_p})
    return words.mapInPandas(gen, "word string, wfreq bigint, piece string")


def _unigram_em(spark: SparkSession,
                words: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The shared EM loop (the _bpe_loop pattern: trainer and encoder
    run THIS code, so the two entries check one dataflow from two
    angles). Per round: collect the vocab (V rows — a bounded driver
    read, like the k-means centroid tables), one distributed Viterbi
    pass over distinct words, weighted piece counts, Laplace re-score
    IN SPARK (so the ln/round arithmetic that must match DuckDB runs
    engine-side, never in driver Python). Returns (final_counts,
    final_vocab) — counts from the LAST E-step, scores from the last
    M-step."""
    vocab = _unigram_seed_vocab(words)
    cnt = None
    for _ in range(UNIGRAM_EM_ROUNDS):
        vrows = {r["piece"]: r["lp"] for r in vocab.collect()}
        seg = _segment_words(words, vrows)
        pieces = local_df(
            spark, [(p,) for p in sorted(vrows)], "piece string")
        cnt = (pieces.join(
            seg.groupBy("piece").agg(F.sum("wfreq").alias("cc")),
            "piece", "left")
            .select("piece",
                    F.coalesce("cc", F.lit(0)).cast("bigint").alias("c")))
        tot = cnt.agg(F.sum("c").alias("tc"), F.count("*").alias("nv"))
        vocab = (cnt.crossJoin(tot)   # 1-row total: bounded
                 .select("piece",
                         F.round(F.log(
                             (F.col("c") + 1).cast("double")
                             / (F.col("tc") + F.col("nv")).cast("double"))
                             * 1e9, 0).cast("bigint").alias("lp")))
    return cnt, vocab


@scoped_cached_plan_aqe
def q_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer TRAINING as iterative
    relational ops + a Viterbi kernel: seed a piece vocab from weighted
    char n-gram counts, then UNIGRAM_EM_ROUNDS rounds of hard EM
    (Viterbi-segment every distinct word under current scores ->
    re-estimate scores from weighted piece counts with +1 Laplace).
    Reports the final vocab: (piece, em_count, logp_nanonats). All
    scores are integer nano-nats (round(ln(p)*1e9)) so the DP argmax
    and tie-breaks are exact-integer on both engines; the oracle
    unrolls the SAME pinned rounds with the DP as recursive CTEs, so a
    hash match checks the full EM dataflow — seeding, both
    segmentation passes, both re-scores — not a proxy. Completes the
    tokenizer-training story next to bpe_merge_train (the reference has
    no tokenizer; parity target is the brief's text-analysis pillar)."""
    words = pin(_unigram_words(load(spark, sf_dir, "documents")))
    cnt, vocab = _unigram_em(spark, words)
    return (cnt.join(vocab, "piece")
            .select("piece", F.col("c").alias("em_count"),
                    F.col("lp").alias("logp_nanonats")))


@scoped_cached_plan_aqe
def q_unigram_lm_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY for the unigram LM — segment the corpus with the
    TRAINED model (the same _unigram_em loop the trainer checks, plus
    one more Viterbi pass under the final scores) and report per-doc
    char count, piece count, and floor-ppm compression. Aggregation
    rides the distinct-word pivot: per-doc (word, k) multiplicities
    join the per-word piece counts, so the corpus-size pass is one
    groupBy — the encoded corpus itself is hash-verified (a right
    merge list with an off-by-one apply pass is exactly what a
    doc-level count catches, the bpe_encode discipline)."""
    docs = load(spark, sf_dir, "documents")
    words = pin(_unigram_words(docs))
    _, vocab = _unigram_em(spark, words)
    final = {r["piece"]: r["lp"] for r in vocab.collect()}
    np = (_segment_words(words, final)
          .groupBy("word").agg(F.count("*").alias("np")))
    dw = (docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
          .select("doc_id",
                  F.substring("w", 1, UNIGRAM_MAX_WORD).alias("word"))
          .groupBy("doc_id", "word").agg(F.count("*").alias("k")))
    return (dw.join(np, "word")
            .groupBy("doc_id")
            .agg(F.sum(F.col("k") * F.length("word")).alias("n_chars"),
                 F.sum(F.col("k") * F.col("np")).alias("n_pieces"))
            .select("doc_id", "n_chars", "n_pieces",
                    F.expr("n_pieces * 1000000 div n_chars")
                    .alias("compression_ppm")))


@scoped_cached_plan_aqe
def q_unigram_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering under the TRAINED unigram LM —
    the flagship LLM-corpus quality gate this tokenizer family was
    built to feed (score every doc by how surprising the in-domain LM
    finds it; drop the high-perplexity tail). Per doc: total Viterbi
    negative log-likelihood in integer nano-nats (nll = -sum of the
    chosen pieces' logp over the best segmentation, weighted by word
    multiplicity), pieces count, floor-div average nll/piece, and the
    corpus-mean gate kept = (nll * total_pieces <= total_nll *
    n_pieces) — the cross-multiplied integer form of avg_doc <=
    avg_corpus, so the boundary never sees a float or a truncated
    division on either engine (products bounded by corpus-total nll *
    doc pieces ~ 1e17 at sf0.1, well under int64; a 100 TB corpus
    would move this comparison to decimal). Rides the same
    distinct-word pivot + EM loop as train/apply — a third
    hash-checked angle on one dataflow — plus one vocab join to price
    the pieces."""
    docs = load(spark, sf_dir, "documents")
    words = pin(_unigram_words(docs))
    _, vocab = _unigram_em(spark, words)
    final = {r["piece"]: r["lp"] for r in vocab.collect()}
    wn = (_segment_words(words, final)
          .join(vocab, "piece")
          .groupBy("word").agg(F.count("*").alias("np"),
                               F.sum(-F.col("lp")).alias("nll")))
    dw = (docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
          .select("doc_id",
                  F.substring("w", 1, UNIGRAM_MAX_WORD).alias("word"))
          .groupBy("doc_id", "word").agg(F.count("*").alias("k")))
    stats = (dw.join(wn, "word")
             .groupBy("doc_id")
             .agg(F.sum(F.col("k") * F.col("np")).alias("n_pieces"),
                  F.sum(F.col("k") * F.col("nll")).alias("nll_nanonats")))
    tot = stats.agg(F.sum("nll_nanonats").alias("tn"),
                    F.sum("n_pieces").alias("tp"))
    return (stats.crossJoin(tot)   # 1-row corpus total: bounded
            .select("doc_id", "n_pieces", "nll_nanonats",
                    F.expr("nll_nanonats div n_pieces")
                    .alias("avg_nll_nanonats"),
                    F.expr("CASE WHEN nll_nanonats * tp <= tn * n_pieces "
                           "THEN 1 ELSE 0 END").cast("bigint").alias("kept")))


def _unigram_oracle() -> tuple[str, str, str]:
    """Train + apply + perplexity-filter oracles: the EM loop unrolled
    as pinned-round CTEs,
    with each Viterbi pass as a pair of RECURSIVE CTEs — forward DP
    carrying the last three dp cells as columns (s0,s1,s2), so no
    aggregate appears in a recursive term, then a backtrack walk from
    pos=len(word) hopping by the recorded best-length bl. Candidate
    scores use the identical COALESCE-to-sentinel arithmetic and the
    identical c3>=c2>=c1 tie-break CASE as _segment_words — integer
    nano-nats end to end, so the argmax is bit-portable."""
    toks = SQL_TOKENS
    s = UNIGRAM_SENT
    k = UNIGRAM_SEED_PER_N
    # AS MATERIALIZED on every non-recursive CTE a recursive term
    # consumes: without it DuckDB may inline the whole upstream chain
    # (v{{p}} -> pc{{p-1}} -> f{{p-1}} -> ...) into EVERY iteration of
    # the next forward DP — observed as an exponential-reevaluation
    # hang at sf0.001 before this fix.
    ctes = [f"""words AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wfreq
  FROM (SELECT substr(w, 1, {UNIGRAM_MAX_WORD}) AS word
        FROM (SELECT unnest({toks}) AS w FROM documents))
  GROUP BY 1)""", f"""occ AS MATERIALIZED (
  SELECT piece, CAST(SUM(wfreq) AS BIGINT) AS c
  FROM (
    SELECT substr(word, CAST(i AS INTEGER), 1) AS piece, wfreq
    FROM (SELECT word, wfreq,
                 unnest(range(1, length(word) + 1)) AS i FROM words)
    UNION ALL
    SELECT substr(word, CAST(i AS INTEGER), 2), wfreq
    FROM (SELECT word, wfreq,
                 unnest(range(1, length(word))) AS i FROM words)
    UNION ALL
    SELECT substr(word, CAST(i AS INTEGER), 3), wfreq
    FROM (SELECT word, wfreq,
                 unnest(range(1, length(word) - 1)) AS i FROM words))
  GROUP BY 1)""", f"""sel AS MATERIALIZED (
  SELECT piece, c FROM occ WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (PARTITION BY length(piece)
                                        ORDER BY c DESC, piece) AS rn
    FROM occ WHERE length(piece) > 1) WHERE rn <= {k})""", f"""tot0 AS MATERIALIZED (
  SELECT CAST(SUM(c) AS BIGINT) AS tc FROM sel)""", f"""v1 AS MATERIALIZED (
  SELECT piece, CAST(round(ln(c::DOUBLE / tc::DOUBLE) * 1e9) AS BIGINT)
           AS lp
  FROM sel CROSS JOIN tot0)"""]
    n_pass = UNIGRAM_EM_ROUNDS + 1   # E1, E2, apply
    for p in range(1, n_pass + 1):
        ctes.append(f"""f{p} AS (
  SELECT word, wfreq, 0 AS j, CAST(0 AS BIGINT) AS s0,
         CAST({s} AS BIGINT) AS s1, CAST({s} AS BIGINT) AS s2, 0 AS bl
  FROM words
  UNION ALL
  SELECT word, wfreq, j, GREATEST(c3, c2, c1) AS s0, p0 AS s1, p1 AS s2,
         CASE WHEN c3 >= c2 AND c3 >= c1 THEN 3
              WHEN c2 >= c1 THEN 2 ELSE 1 END AS bl
  FROM (
    SELECT f.word, f.wfreq, f.j + 1 AS j, f.s0 AS p0, f.s1 AS p1,
           f.s0 + COALESCE(x1.lp, {s}) AS c1,
           CASE WHEN f.j >= 1 THEN f.s1 + COALESCE(x2.lp, {s})
                ELSE {s} END AS c2,
           CASE WHEN f.j >= 2 THEN f.s2 + COALESCE(x3.lp, {s})
                ELSE {s} END AS c3
    FROM f{p} f
    LEFT JOIN v{p} x1 ON x1.piece = substr(f.word, f.j + 1, 1)
    LEFT JOIN v{p} x2 ON f.j >= 1 AND x2.piece = substr(f.word, f.j, 2)
    LEFT JOIN v{p} x3 ON f.j >= 2 AND x3.piece = substr(f.word, f.j - 1, 3)
    WHERE f.j < length(f.word)) t)""")
        ctes.append(f"""bt{p} AS (
  SELECT word, wfreq, length(word) AS pos FROM words
  UNION ALL
  SELECT b.word, b.wfreq, b.pos - f.bl
  FROM bt{p} b JOIN f{p} f ON f.word = b.word AND f.j = b.pos
  WHERE b.pos > 0)""")
        ctes.append(f"""pc{p} AS MATERIALIZED (
  SELECT b.word, b.wfreq, substr(b.word, b.pos - f.bl + 1, f.bl) AS piece
  FROM bt{p} b JOIN f{p} f ON f.word = b.word AND f.j = b.pos
  WHERE b.pos > 0)""")
        if p <= UNIGRAM_EM_ROUNDS:   # M-step after E1/E2 only
            ctes.append(f"""cnt{p} AS MATERIALIZED (
  SELECT v.piece, CAST(COALESCE(SUM(p.wfreq), 0) AS BIGINT) AS c
  FROM v{p} v LEFT JOIN pc{p} p ON p.piece = v.piece
  GROUP BY v.piece)""")
            ctes.append(f"""tot{p} AS MATERIALIZED (
  SELECT CAST(SUM(c) AS BIGINT) AS tc, COUNT(*) AS nv FROM cnt{p})""")
            ctes.append(f"""v{p + 1} AS MATERIALIZED (
  SELECT piece, CAST(round(ln((c + 1)::DOUBLE / (tc + nv)::DOUBLE) * 1e9)
                  AS BIGINT) AS lp
  FROM cnt{p} CROSS JOIN tot{p})""")
    body = "WITH RECURSIVE " + ",\n".join(ctes)
    r = UNIGRAM_EM_ROUNDS
    train = body + f"""
SELECT c.piece, c.c AS em_count, v.lp AS logp_nanonats
FROM cnt{r} c JOIN v{r + 1} v USING (piece)"""
    apply_ = body + f"""
SELECT d.doc_id,
       CAST(SUM(d.k * length(d.word)) AS BIGINT) AS n_chars,
       CAST(SUM(d.k * np.np) AS BIGINT) AS n_pieces,
       CAST(SUM(d.k * np.np) AS BIGINT) * 1000000
         // CAST(SUM(d.k * length(d.word)) AS BIGINT) AS compression_ppm
FROM (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS k
      FROM (SELECT doc_id, substr(w, 1, {UNIGRAM_MAX_WORD}) AS word
            FROM (SELECT doc_id, unnest({toks}) AS w FROM documents))
      GROUP BY 1, 2) d
JOIN (SELECT word, CAST(COUNT(*) AS BIGINT) AS np
      FROM pc{r + 1} GROUP BY 1) np USING (word)
GROUP BY d.doc_id"""
    # perplexity filter: price the apply pass's pieces with the final
    # vocab scores, roll up per doc, gate on the cross-multiplied
    # integer form of avg_doc <= avg_corpus (no float, no truncated
    # division at the boundary)
    ppl = body + f""",
word_nll AS MATERIALIZED (
  SELECT p.word, CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(-v.lp) AS BIGINT) AS nll
  FROM pc{r + 1} p JOIN v{r + 1} v USING (piece) GROUP BY 1),
docstats AS MATERIALIZED (
  SELECT d.doc_id, CAST(SUM(d.k * wn.np) AS BIGINT) AS n_pieces,
         CAST(SUM(d.k * wn.nll) AS BIGINT) AS nll_nanonats
  FROM (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT doc_id, substr(w, 1, {UNIGRAM_MAX_WORD}) AS word
              FROM (SELECT doc_id, unnest({toks}) AS w FROM documents))
        GROUP BY 1, 2) d
  JOIN word_nll wn USING (word)
  GROUP BY 1),
tot AS (SELECT CAST(SUM(nll_nanonats) AS BIGINT) AS tn,
               CAST(SUM(n_pieces) AS BIGINT) AS tp FROM docstats)
SELECT doc_id, n_pieces, nll_nanonats,
       nll_nanonats // n_pieces AS avg_nll_nanonats,
       CAST(CASE WHEN nll_nanonats * tp <= tn * n_pieces
            THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM docstats CROSS JOIN tot"""
    return train, apply_, ppl


(ORACLE_UNIGRAM_LM_TRAIN, ORACLE_UNIGRAM_LM_APPLY,
 ORACLE_UNIGRAM_PPL_FILTER) = _unigram_oracle()


def q_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (alpha = 0.5): sampling weight per
    source ∝ count^alpha, the standard rebalance that upweights small
    sources when assembling a multi-source training mix (vs proportional
    sampling's big-source domination). Determinism discipline: sqrt(count)
    is quantized to an int64 millionth (round(sqrt(c)*1e6)) BEFORE the
    normalizing sum, so the total is an order-free integer sum and every
    rate_ppm is exact integer arithmetic — no float summation order can
    leak into the result (see plans/base.py determinism rules). Selection
    is the same row-local h60 gate as stratified sampling: pushable
    filter, no RNG state, reproducible at any scale. Two tiny shuffles
    (source counts, final rollup); the rates frame broadcasts."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    ai = F.round(F.sqrt(F.col("n_docs")) * 1e6).cast("bigint")
    rates = (counts.withColumn("ai", ai)
             .withColumn("rate_ppm",
                         F.expr("ai * 1000000 div sum(ai) over ()"))
             .select("source", "rate_ppm"))
    gate = h60(F.concat(F.lit("tmix_"), F.col("doc_id").cast("string"))) \
        % 1000000
    return (docs.join(F.broadcast(rates), "source")
            .groupBy("source", "rate_ppm")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(gate < F.col("rate_ppm"), 1).otherwise(0))
                  .cast("bigint").alias("n_kept")))


ORACLE_TEMPERATURE_MIXING = f"""
WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
rates AS (
  SELECT source,
         CAST(CAST(ROUND(SQRT(n_docs) * 1e6) AS BIGINT) * 1000000
              // SUM(CAST(ROUND(SQRT(n_docs) * 1e6) AS BIGINT)) OVER ()
              AS BIGINT) AS rate_ppm
  FROM counts)
SELECT d.source, r.rate_ppm, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN {h60_sql(chr(39) + 'tmix_' + chr(39) + ' || d.doc_id::VARCHAR')} % 1000000
                     < r.rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN rates r ON d.source = r.source
GROUP BY d.source, r.rate_ppm
"""


_RATE_CASE = ("CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}"
    for lang, r in sorted(SAMPLE_RATES_PERMILLE.items()))
    + f" ELSE {DEFAULT_RATE_PERMILLE} END")

ORACLE_STRATIFIED_SAMPLE = f"""
SELECT lang, COUNT(*) AS n_sampled,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM documents
WHERE {h60_sql("'sample_' || doc_id::VARCHAR")} % 1000 < {_RATE_CASE}
GROUP BY lang
"""


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed train/validation/test split (80/10/10 by key hash):
    stable under reruns and appends — a given doc never migrates between
    splits — and computable on any engine. The split column is a row-local
    projection; at 100 TB you'd persist it partitioned by split."""
    docs = load(spark, sf_dir, "documents")
    bucket = h60(F.concat(F.lit("split_"), F.col("doc_id").cast("string"))) % 10
    split = (F.when(bucket <= 7, F.lit("train"))
             .when(bucket == 8, F.lit("valid"))
             .otherwise(F.lit("test")))
    return (docs.select("source", split.alias("split"))
            .groupBy("source", "split")
            .agg(F.count("*").alias("n_docs")))


ORACLE_TRAIN_TEST_SPLIT = f"""
WITH b AS (
  SELECT source,
         {h60_sql("'split_' || doc_id::VARCHAR")} % 10 AS bucket
  FROM documents)
SELECT source,
       CASE WHEN bucket <= 7 THEN 'train'
            WHEN bucket = 8 THEN 'valid' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM b GROUP BY 1, 2
"""


VOCAB_TOPK = 50


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building with document frequency: distinct tokens per doc
    (row-local array_distinct — no dedup shuffle), one token-keyed count,
    top-k by (df desc, token). The groupBy key is the token itself; at
    100 TB ultra-common tokens are still one partial-aggregated row each —
    map-side combine keeps the shuffle at |vocab|, not |tokens|."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("token"))
    df_counts = per_doc.groupBy("token").agg(F.count("*").alias("doc_freq"))
    return (df_counts
            .orderBy(F.col("doc_freq").desc(), F.col("token"))
            .limit(VOCAB_TOPK))



ORACLE_VOCAB_TOPK = f"""
WITH per_doc AS (
  SELECT DISTINCT doc_id, unnest({SQL_TOKENS}) AS token FROM documents)
SELECT token, COUNT(*) AS doc_freq
FROM per_doc GROUP BY token
ORDER BY doc_freq DESC, token
LIMIT {VOCAB_TOPK}
"""


COVERAGE_KS = (100, 1000, 10000)


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design question 'how much
    of the corpus do the top-k word types cover?' (the Zipf mass curve
    that decides vocab size before training a tokenizer). One token-keyed
    occurrence count (map-side combined, shuffle = |vocab|), then ranking
    and cumulative mass over the BOUNDED vocab table ((count desc, token)
    total order — the global window rides |vocab| rows, never |tokens|),
    and one output row per probe k with coverage in integer ppm
    (truncating division both engines). k beyond the vocab clamps to the
    full vocab (coverage exactly 1e6) instead of dropping the row."""
    docs = load(spark, sf_dir, "documents")
    tc = (docs.select(F.explode(tokens(F.col("text"))).alias("token"))
          .groupBy("token").agg(F.count("*").alias("cnt")))
    w = Window.orderBy(F.col("cnt").desc(), "token")
    wg = Window.partitionBy()
    ranked = tc.select(
        F.row_number().over(w).alias("rn"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)).alias("cum"),
        F.sum("cnt").over(wg).alias("total"),
        F.count("*").over(wg).alias("vocab_size"))
    parts = [
        ranked.filter(F.col("rn") == F.least(F.lit(k), F.col("vocab_size")))
        .select(F.lit(k).alias("k"), "vocab_size",
                F.expr("cum * 1000000 div total").alias("coverage_ppm"))
        for k in COVERAGE_KS]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _oracle_vocab_coverage() -> str:
    ks = ", ".join(f"({k})" for k in COVERAGE_KS)
    return f"""
WITH tok AS (SELECT unnest({SQL_TOKENS}) AS token FROM documents),
tc AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rn,
         SUM(cnt) OVER (ORDER BY cnt DESC, token
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER () AS total,
         COUNT(*) OVER () AS vocab_size
  FROM tc)
SELECT k, CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(cum * 1000000 // total AS BIGINT) AS coverage_ppm
FROM ranked JOIN (VALUES {ks}) AS t(k)
  ON rn = LEAST(k, vocab_size)
"""


LEN_BUCKET_W = 64


def q_length_bucketing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit — the padding-efficiency report
    behind sequence bucketing: batching documents of similar token length
    together pads each one only to its BUCKET's max, and this entry
    measures the residual waste per bucket in integer ppm
    ((max*n - sum) / (max*n) — the fraction of batch slots spent on pad
    tokens if the whole bucket were one batch). Token counts are
    row-local; one shuffle to the bounded bucket table. The unbucketed
    baseline (pad everything to the global max) is derivable from the
    same rows and asserted vastly worse in the invariant test."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    per = docs.select(n_tok.alias("n_tok")).withColumn(
        "bucket", F.expr(f"n_tok div {LEN_BUCKET_W}"))
    return (per.groupBy("bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.max("n_tok").alias("max_tok"),
                 F.sum("n_tok").alias("sum_tok"))
            .select("bucket", "n_docs", "max_tok",
                    F.col("sum_tok").cast("bigint").alias("sum_tok"),
                    F.expr("(max_tok * n_docs - sum_tok) * 1000000 "
                           "div (max_tok * n_docs)").alias("waste_ppm")))


ORACLE_LENGTH_BUCKETING = f"""
WITH per AS (SELECT len({SQL_TOKENS}) AS n_tok FROM documents)
SELECT n_tok // {LEN_BUCKET_W} AS bucket, COUNT(*) AS n_docs,
       MAX(n_tok) AS max_tok, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST((MAX(n_tok) * COUNT(*) - SUM(n_tok)) * 1000000
            // (MAX(n_tok) * COUNT(*)) AS BIGINT) AS waste_ppm
FROM per GROUP BY 1
"""


TFIDF_TOPK = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top terms per document (the keyword-extraction step):
    tf = in-doc term count, idf = ln(N / doc-frequency), top-3 terms per doc
    by (tfidf desc, term). The tf rows ARE the
    distinct (doc, term) pairs, so the doc frequency is a count(*) window
    over the tf aggregate partitioned by token — the second
    tokenize/explode pass, its distinct, and the tf x df join all
    disappear (one corpus pass, 3 exchanges vs 4 plus a join; identical
    rows A/B'd at sf0.1). ln agrees across engines to the ulp, far
    inside the round(6) comparison."""
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms = docs.select("doc_id",
                        F.explode(tokens(F.col("text"))).alias("token"))
    tf = terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    tfidf = (tf.withColumn("df", F.count("*").over(Window.partitionBy("token")))
             .withColumn("tfidf",
                         F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (tfidf.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TFIDF_TOPK)
            .select("doc_id", "rnk", "token",
                    F.round("tfidf", 6).alias("tfidf")))


ORACLE_TFIDF = f"""
WITH terms AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
dfc AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf * ln(n.n_docs / dfc.df) AS tfidf
  FROM tf JOIN dfc ON tf.token = dfc.token CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rnk
      FROM scored)
SELECT doc_id, rnk, token, ROUND(tfidf, 6) AS tfidf FROM r WHERE rnk <= {TFIDF_TOPK}
"""


BIGRAM_TOPK = 30


def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts, top-k — the n-gram language-model prep step.
    Bigrams are assembled row-locally from the token array (zip of the array
    with its tail — no self-join, no explode-then-window), then one
    token-pair-keyed count."""
    docs = load(spark, sf_dir, "documents")
    # materialize the token array once — the slice/size references would
    # otherwise re-run the tokenizer four times per row
    toks = F.col("__toks")
    bigrams = F.zip_with(F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                         F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                         lambda a, b: F.concat_ws(" ", a, b))
    return (docs.select(tokens(F.col("text")).alias("__toks"))
            .select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "bigram")
            .limit(BIGRAM_TOPK))


ORACLE_BIGRAM = f"""
WITH t AS (SELECT {SQL_TOKENS} AS tk FROM documents),
b AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM t)
SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
ORDER BY n DESC, bigram LIMIT {BIGRAM_TOPK}
"""


PMI_MIN_COUNT = 5       # drop bigrams rarer than this before scoring
PMI_TOPK = 20


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored collocations: rank word bigrams by pointwise mutual
    information ln(p(w1,w2) / (p(w1)p(w2))) — the statistical phrase-mining
    step (multi-word-expression detection) of corpus analysis, and the
    standard association score n-gram counting alone can't give (raw counts
    surface 'of the'; PMI surfaces real collocations).

    Shape: bigrams assemble row-locally (zip of the token array with its
    tail — the q_bigram_topk pattern), then TWO token-keyed counts (unigram,
    bigram) and a broadcast-sized join of bigram counts against the
    unigram vocabulary; corpus totals ride along as 1-row crossJoin
    broadcasts, not driver collects. At 100 TB: two shuffles keyed on
    uniformly-distributed tokens, output bounded by the vocabulary.

    Determinism: probabilities divide in double with the identical
    expression tree both engines; ranking pins (round(pmi,6) desc, w1, w2)
    so an ulp of ln() difference can't reorder the top-k boundary."""
    docs = load(spark, sf_dir, "documents")
    toks = F.col("__toks")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    base = docs.select(tokens(F.col("text")).alias("__toks"))
    uni = (base.select(F.explode("__toks").alias("w"))
           .groupBy("w").agg(F.count("*").alias("cw")))
    big = (base.select(F.explode(pairs).alias("p"))
           .select("p.w1", "p.w2")
           .groupBy("w1", "w2").agg(F.count("*").alias("cab"))
           .filter(F.col("cab") >= PMI_MIN_COUNT))
    nu = uni.agg(F.sum("cw").cast("double").alias("nu"))
    nb = (base.select(F.greatest(F.size("__toks") - 1, F.lit(0)).alias("m"))
          .agg(F.sum("m").cast("double").alias("nb")))
    joined = (big
              .join(F.broadcast(uni.withColumnRenamed("w", "w1")
                                .withColumnRenamed("cw", "ca")), "w1")
              .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                                .withColumnRenamed("cw", "cb")), "w2")
              .crossJoin(F.broadcast(nu)).crossJoin(F.broadcast(nb)))
    p = ((F.col("cab").cast("double") / F.col("nb"))
         / ((F.col("ca").cast("double") / F.col("nu"))
            * (F.col("cb").cast("double") / F.col("nu"))))
    return (joined.select("w1", "w2", "cab",
                          F.round(F.log(p), 6).alias("pmi"))
            .orderBy(F.col("pmi").desc(), "w1", "w2")
            .limit(PMI_TOPK))


def _oracle_pmi() -> str:
    toks = SQL_TOKENS
    return f"""
WITH t AS (SELECT {toks} AS tk FROM documents),
uni AS (SELECT unnest(tk) AS w FROM t),
ucnt AS (SELECT w, COUNT(*) AS cw FROM uni GROUP BY w),
big AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM t, UNNEST(generate_series(1, greatest(len(tk) - 1, 0))) AS g(i)),
bcnt AS (SELECT w1, w2, COUNT(*) AS cab FROM big GROUP BY w1, w2
         HAVING COUNT(*) >= {PMI_MIN_COUNT}),
nu AS (SELECT CAST(SUM(cw) AS DOUBLE) AS nu FROM ucnt),
nb AS (SELECT CAST(SUM(greatest(len(tk) - 1, 0)) AS DOUBLE) AS nb FROM t)
SELECT w1, w2, cab,
       ROUND(ln((CAST(cab AS DOUBLE) / nb)
                / ((CAST(ca.cw AS DOUBLE) / nu)
                   * (CAST(cb.cw AS DOUBLE) / nu))), 6) AS pmi
FROM bcnt
JOIN ucnt ca ON ca.w = bcnt.w1
JOIN ucnt cb ON cb.w = bcnt.w2
CROSS JOIN nu CROSS JOIN nb
ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOPK}
"""


def q_zscore_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 grouped-map Pandas surface: per-event-type feature
    standardization via applyInPandas (the z-score step of a training
    pipeline). Arrow ships each group to pandas and back; the output drops
    to narrow rows before any shuffle.

    Hash-checkable float math: naive pandas mean()/std() differs from a SQL
    engine in the last ulp (pairwise vs sequential summation), so the UDF
    computes the moments EXACTLY — values are 2-decimal, so cents are
    integers; Σx and Σx² accumulate in arbitrary-precision Python ints —
    and closes over doubles with the IDENTICAL expression tree the DuckDB
    oracle uses: z = (n·x − Σx) / sqrt((n·Σx² − Σx²)·n/(n−1)). Every op is
    correctly-rounded IEEE on identical inputs, so results are bit-equal
    (the qty_price_corr exact-moments pattern); ROUND(...,6) both sides
    absorbs any residual quirk. z is scale-invariant, so the z of cents IS
    the z of the raw values."""
    import numpy as np

    def zscore(pdf):
        x = np.round(pdf["value"].to_numpy(dtype=np.float64) * 100.0)
        xi = x.astype(np.int64)
        n = len(xi)
        s = int(xi.sum())
        q = int((xi * xi).sum())
        n_d, sx, sxx = float(n), float(s), float(q)
        var_n = n_d * sxx - sx * sx
        pdf = pdf.copy()
        if n < 2 or var_n <= 0.0:
            pdf["z"] = 0.0
        else:
            denom = np.sqrt(var_n * n_d / (n_d - 1.0))
            pdf["z"] = np.round((n_d * x - sx) / denom, 6)
        return pdf

    ev = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    return (ev.groupBy("event_type")
            .applyInPandas(zscore,
                           schema="event_type string, event_id long, "
                                  "value double, z double"))


ORACLE_ZSCORE_GROUPS = """
WITH c AS (
  SELECT event_type, event_id, value,
         CAST(ROUND(value * 100) AS BIGINT) AS x
  FROM events),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM c GROUP BY event_type)
SELECT c.event_type, c.event_id, c.value,
       CASE WHEN m.n < 2 OR m.n * m.sxx - m.sx * m.sx <= 0 THEN 0.0
            ELSE ROUND((m.n * c.x - m.sx)
                       / sqrt((m.n * m.sxx - m.sx * m.sx) * m.n / (m.n - 1)),
                       6)
       END AS z
FROM c JOIN m USING (event_type)
"""


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning pass every training-data pipeline runs:
    exact-dedup survivor ∧ confident language id ∧ quality score ≥ 0.5 ∧
    token-repetition ≤ 0.5, in ONE scan. Each signal is the same expression
    proven individually (q_dedup_exact_text, q_lang_id, q_text_quality,
    q_repetition_score); composing them row-locally means the whole filter
    is a projection + one window over md5(text) — at 100 TB this pass costs
    a single shuffle regardless of how many signals it blends."""
    from ..functions.text import lang_id
    from .textops import _quality_scaled_cols
    docs = load(spark, sf_dir, "documents")
    scaled = _quality_scaled_cols(docs)
    keep_w = Window.partitionBy(F.md5("text"))
    staged = scaled.select(
        "doc_id", "source", "score_ppm", "rep_ppm",
        F.min("doc_id").over(keep_w).alias("keep_id"),
        lang_id(F.col("text")).alias("lang_pred"))
    return (staged
            .filter((F.col("doc_id") == F.col("keep_id"))
                    & (F.col("lang_pred") != "und")
                    & (F.col("score_ppm") >= 500000)
                    & (F.col("rep_ppm") <= 500000))
            .select("doc_id", "source", "lang_pred",
                    (F.col("score_ppm") / 1e6).alias("quality_score")))


def _oracle_corpus_filter() -> str:
    from .textops import SQL_QUALITY_SCALED, _LANG_PRED_CASE, _sql_lang_scores
    return f"""
WITH {SQL_QUALITY_SCALED},
langed AS (
  SELECT s.doc_id, s.source, s.score_ppm, s.rep_ppm,
         MIN(s.doc_id) OVER (PARTITION BY md5(s.text)) AS keep_id,
         {_LANG_PRED_CASE} AS lang_pred
  FROM scaled s
  JOIN (SELECT doc_id, {_sql_lang_scores()} FROM documents) l
    ON l.doc_id = s.doc_id)
SELECT doc_id, source, lang_pred, score_ppm / 1e6 AS quality_score
FROM langed
WHERE doc_id = keep_id AND lang_pred != 'und'
  AND score_ppm >= 500000 AND rep_ppm <= 500000
"""


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning FUNNEL REPORT next to q_corpus_filter's final
    verdict: per-stage attrition (n_in / n_dropped / n_out) through the
    ordered pipeline exact-dedup -> language-id -> quality -> repetition —
    the C4-style table every corpus build publishes so reviewers can see
    WHERE documents die, not just how many survive. Each doc is assigned
    its FIRST failing stage row-locally (same proven signal expressions as
    q_corpus_filter), one tiny conditional aggregate produces the drop
    counts, and the 4-row report unstacks from that single row — one scan,
    one 1-row shuffle, at any corpus size."""
    from ..functions.text import lang_id
    from .textops import _quality_scaled_cols
    docs = load(spark, sf_dir, "documents")
    scaled = _quality_scaled_cols(docs)
    keep_w = Window.partitionBy(F.md5("text"))
    staged = scaled.select(
        "doc_id", "score_ppm", "rep_ppm",
        F.min("doc_id").over(keep_w).alias("keep_id"),
        lang_id(F.col("text")).alias("lang_pred"))
    fail = (F.when(F.col("doc_id") != F.col("keep_id"), 1)
            .when(F.col("lang_pred") == "und", 2)
            .when(F.col("score_ppm") < 500000, 3)
            .when(F.col("rep_ppm") > 500000, 4)
            .otherwise(0))
    agg = staged.select(fail.alias("f")).agg(
        F.count("*").alias("n_total"),
        *[F.sum(F.when(F.col("f") == i, 1).otherwise(0)).alias(f"d{i}")
          for i in (1, 2, 3, 4)])
    report = agg.selectExpr("""stack(4,
        'exact_dedup',      n_total,                n_total - d1,
        'lang_id',          n_total - d1,           n_total - d1 - d2,
        'quality_score',    n_total - d1 - d2,      n_total - d1 - d2 - d3,
        'repetition',       n_total - d1 - d2 - d3, n_total - d1 - d2 - d3 - d4
        ) AS (stage, n_in, n_out)""")
    return report.select("stage", "n_in", "n_out",
                         (F.col("n_in") - F.col("n_out")).alias("n_dropped"))


def _oracle_filter_funnel() -> str:
    from .textops import SQL_QUALITY_SCALED, _LANG_PRED_CASE, _sql_lang_scores
    return f"""
WITH {SQL_QUALITY_SCALED},
langed AS (
  SELECT s.doc_id, s.score_ppm, s.rep_ppm,
         MIN(s.doc_id) OVER (PARTITION BY md5(s.text)) AS keep_id,
         {_LANG_PRED_CASE} AS lang_pred
  FROM scaled s
  JOIN (SELECT doc_id, {_sql_lang_scores()} FROM documents) l
    ON l.doc_id = s.doc_id),
f AS (
  SELECT CASE WHEN doc_id != keep_id THEN 1
              WHEN lang_pred = 'und' THEN 2
              WHEN score_ppm < 500000 THEN 3
              WHEN rep_ppm > 500000 THEN 4
              ELSE 0 END AS f
  FROM langed),
agg AS (
  SELECT COUNT(*) AS n_total,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN f = 3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         CAST(SUM(CASE WHEN f = 4 THEN 1 ELSE 0 END) AS BIGINT) AS d4
  FROM f)
SELECT 'exact_dedup' AS stage, n_total AS n_in, n_total - d1 AS n_out,
       d1 AS n_dropped FROM agg
UNION ALL
SELECT 'lang_id', n_total - d1, n_total - d1 - d2, d2 FROM agg
UNION ALL
SELECT 'quality_score', n_total - d1 - d2, n_total - d1 - d2 - d3, d3
FROM agg
UNION ALL
SELECT 'repetition', n_total - d1 - d2 - d3,
       n_total - d1 - d2 - d3 - d4, d4 FROM agg
"""


MIX_RATES = {"src0": 100, "src1": 80, "src2": 60, "src3": 40, "src4": 20}
MIX_DEFAULT_RATE = 50


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture subsampling — the data-mixing step of
    corpus assembly: each source keeps a configured percentage of its
    documents, selected by content-stable hash (h60), NOT rand(), so the
    mixture is reproducible run-to-run and shard-by-shard. Row-local
    keep/drop + one tiny groupBy; rescaling weights never reshuffles."""
    docs = load(spark, sf_dir, "documents")
    rate = F.lit(MIX_DEFAULT_RATE)
    for src, r in sorted(MIX_RATES.items()):
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    kept = (h60(F.concat(F.lit("mix_"), F.col("doc_id").cast("string")))
            % 100 < rate)
    return (docs.select("source", rate.alias("rate"),
                        kept.cast("int").alias("kept"))
            .groupBy("source", "rate")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("kept").alias("n_kept")))


def _oracle_source_mixture() -> str:
    cases = " ".join(f"WHEN '{s}' THEN {r}"
                     for s, r in sorted(MIX_RATES.items()))
    h = h60_sql("'mix_' || doc_id::VARCHAR")
    return f"""
WITH m AS (
  SELECT source,
         CASE source {cases} ELSE {MIX_DEFAULT_RATE} END AS rate,
         CASE WHEN {h} % 100 < CASE source {cases} ELSE {MIX_DEFAULT_RATE} END
              THEN 1 ELSE 0 END AS kept
  FROM documents)
SELECT source, rate, COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept
FROM m GROUP BY source, rate
"""


N_SHARDS = 32


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard packing + balance audit: every document lands in
    a shard by content hash (h60 % 32 — stable across retries, engines,
    and repartitioning, same doctrine as source_mixture), and the query
    reports per-shard document and token counts — the skew report that
    decides whether the pack is trainable or needs re-salting. Row-local
    hash + one 32-group aggregate; at 100 TB the shard id doubles as the
    write partition key so the pack is one shuffle-free pass per shard."""
    docs = load(spark, sf_dir, "documents")
    shard = F.pmod(h60(F.col("text")), F.lit(N_SHARDS)).alias("shard")
    return (docs.select(shard,
                        F.size(tokens(F.col("text"))).alias("n_tok"))
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").alias("n_tokens"))
            .orderBy("shard"))


def _oracle_shard_balance() -> str:
    h = h60_sql("text")
    toks = SQL_TOKENS
    return f"""
SELECT {h} % {N_SHARDS} AS shard, COUNT(*) AS n_docs,
       CAST(SUM(len({toks})) AS BIGINT) AS n_tokens
FROM documents GROUP BY shard ORDER BY shard
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: per-doc mean token log-probability
    under the corpus unigram distribution — the classic LM-based quality
    filter (low scorers are gibberish/outliers). Float discipline: each
    (doc, token) contributes one tf*ln(p) product (bit-identical in both
    engines), which is then quantized to an integer nano-unit BEFORE the
    per-doc sum — integer addition is order-free, so partial aggregation
    can't perturb the result and no ordered fold is needed (DuckDB 1.0's
    list_reduce gives wrong results when fused into a parallel aggregate,
    so lambda folds are banned from oracles). Two token-keyed
    aggregations + a broadcast of the vocab."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    vocab = terms.groupBy("token").agg(F.count("*").alias("cnt"))
    total = terms.count()
    v = F.col("tf") * F.log(F.col("cnt").cast("double") / F.lit(float(total)))
    val = (tf.join(vocab, "token")
           .withColumn("iv", F.round(v * 1e9).cast("bigint")))
    agg = val.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"), F.sum("iv").alias("s"))
    return agg.select(
        "doc_id", "n_tokens",
        F.round(F.col("s") / 1e9 / F.col("n_tokens"), 6).alias("avg_logprob"))


def _oracle_unigram_logprob() -> str:
    toks = SQL_TOKENS
    return f"""
WITH terms AS (SELECT doc_id, unnest({toks}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
vocab AS (SELECT token, COUNT(*) AS cnt FROM terms GROUP BY 1),
tot AS (SELECT COUNT(*)::DOUBLE AS total FROM terms),
val AS (
  SELECT doc_id, tf,
         CAST(round(tf * ln(cnt::DOUBLE / total) * 1e9) AS BIGINT) AS iv
  FROM tf JOIN vocab USING (token) CROSS JOIN tot),
agg AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, SUM(iv) AS s
  FROM val GROUP BY doc_id)
SELECT doc_id, n_tokens, ROUND(s / 1e9 / n_tokens, 6) AS avg_logprob FROM agg
"""


def q_token_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(source || corpus) over the
    unigram distributions, in nats — the mixture diagnostic that ranks
    which sources pull the training distribution hardest (a spiking KL
    flags a scrape gone off-domain; near-zero KL means the source is
    redundant with the mix). Complements drift_tvd / ks_drift, which
    watch NUMERIC columns — this watches the text itself.

    KL(s||c) = sum_t p_t ln(p_t/q_t) with p = c_st/n_s, q = c_t/N. Every
    term with p > 0 has q > 0 by construction (a source's token is in the
    corpus), so no smoothing is needed and the sum is finite. Float
    discipline (the unigram_logprob rule): each (source, token)
    contribution is one mul/div/ln chain — bit-identical on both engines
    — quantized to integer nano-nats BEFORE the per-source sum, so
    partial aggregation order can't perturb the result.

    Plan shape at 100 TB: ONE corpus tokenization pass into the
    (source, token) count aggregate, which is cached (it is
    vocabulary-sized — sources x distinct tokens, tiny next to the
    corpus) and re-aggregated for the source totals, global counts, and
    grand total; then one vocab-sized equi-join + two broadcasts. The
    first cut ran the tokenizer explode four times — once per derived
    aggregate plus an eager driver count; at
    the design point that is three extra full-corpus scans. No window,
    no skew key — 'the' is one row per source after the first
    aggregate."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select("source",
                        F.explode(tokens(F.col("text"))).alias("token"))
    st = pin(terms.groupBy("source", "token").agg(F.count("*").alias("c")))
    stot = st.groupBy("source").agg(F.sum("c").alias("ns"))
    g = st.groupBy("token").agg(F.sum("c").alias("cg"))
    tot = st.agg(F.sum("c").cast("double").alias("total"))
    p = F.col("c").cast("double") / F.col("ns").cast("double")
    q = F.col("cg").cast("double") / F.col("total")
    val = (st.join(g, "token").join(F.broadcast(stot), "source")
           .crossJoin(F.broadcast(tot))
           .withColumn("iv", F.round(p * F.log(p / q) * 1e9).cast("bigint")))
    return (val.groupBy("source")
            .agg(F.max("ns").alias("n_tokens"),
                 F.count("*").alias("vocab_size"),
                 F.sum("iv").alias("s"))
            .select("source", "n_tokens", "vocab_size",
                    F.round(F.col("s") / 1e9, 6).alias("kl_nats")))


def _oracle_token_kl() -> str:
    toks = SQL_TOKENS
    return f"""
WITH terms AS (SELECT source, unnest({toks}) AS token FROM documents),
st AS (SELECT source, token, COUNT(*) AS c FROM terms GROUP BY 1, 2),
stot AS (SELECT source, COUNT(*) AS ns FROM terms GROUP BY 1),
g AS (SELECT token, COUNT(*) AS cg FROM terms GROUP BY 1),
tot AS (SELECT COUNT(*)::DOUBLE AS total FROM terms),
val AS (
  SELECT source,
         CAST(round((c::DOUBLE / ns::DOUBLE)
                    * ln((c::DOUBLE / ns::DOUBLE) / (cg::DOUBLE / total))
                    * 1e9) AS BIGINT) AS iv,
         ns
  FROM st JOIN g USING (token) JOIN stot USING (source) CROSS JOIN tot)
SELECT source, CAST(MAX(ns) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab_size, ROUND(SUM(iv) / 1e9, 6) AS kl_nats
FROM val GROUP BY source
"""


N_FOLDS = 5


def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment + stratification audit: every doc
    lands in one of 5 folds by salted content-stable hash (disjoint from
    the shard and mixture hash domains via the salt), and the report shows
    the fold x source matrix — the balance check that decides whether
    hash-folding is stratified enough or needs per-source folding.
    Deterministic across engines, retries, and partitionings; one scan +
    a 5x|sources| aggregate."""
    docs = load(spark, sf_dir, "documents")
    fold = F.pmod(h60(F.concat(F.lit("fold_"), F.col("doc_id").cast("string"))),
                  F.lit(N_FOLDS))
    return (docs.select(fold.alias("fold"), "source")
            .groupBy("fold", "source")
            .agg(F.count("*").alias("n_docs"))
            .orderBy("fold", "source"))


def _oracle_kfold() -> str:
    h = h60_sql("'fold_' || doc_id::VARCHAR")
    return f"""
SELECT {h} % {N_FOLDS} AS fold, source, COUNT(*) AS n_docs
FROM documents GROUP BY fold, source ORDER BY fold, source
"""


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-split context assembly)
# ---------------------------------------------------------------------------

PACK_WINDOW_TOKENS = 2048


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: documents are laid end-to-end in
    doc_id order *within each source* and cut into PACK_WINDOW_TOKENS-sized
    packs (pack id = exclusive-prefix-token-sum div window) — the context
    assembly step of an LLM training pipeline, reported as a per-pack
    audit (doc count, token total, doc range). Partitioning by source keeps
    the running sum a per-partition window, never a single global sort; at
    100 TB the source axis is replaced/refined by the shard key from
    shard_balance so each window partition stays executor-sized. The
    prefix sum stays < 2^53, so the double floor-divide is exact on both
    engines."""
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id", F.size(tokens(F.col("text"))).alias("n_tok"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    prefix = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    packed = sized.withColumn(
        "pack_seq", F.floor(prefix / F.lit(float(PACK_WINDOW_TOKENS))))
    return (packed.groupBy("source", "pack_seq")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").alias("pack_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


ORACLE_SEQUENCE_PACKING = f"""
WITH t AS (SELECT source, doc_id, len({SQL_TOKENS}) AS n_tok FROM documents),
p AS (
  SELECT source, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM t)
SELECT source, CAST(FLOOR(prefix / {PACK_WINDOW_TOKENS}.0) AS BIGINT) AS pack_seq,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM p GROUP BY source, pack_seq
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-1 smoothing: per-doc mean
    ln P(w_i | w_{i-1}) under the corpus bigram model — the next step up
    from q_unigram_logprob's quality filter, sensitive to word ORDER
    (shuffled gibberish scores low even when its unigram mix is normal).
    Same float discipline as the unigram entry: one tf*ln(p) product per
    (doc, bigram) — bit-identical across engines — quantized to integer
    nano-units BEFORE any sum, so partial aggregation order can't perturb
    the result. P(b|a) = (c(ab)+1) / (c(a·)+V): continuation counts and
    the vocab size V are corpus-level aggregates that join back by bigram /
    first-token equi-keys (broadcast-sized at any corpus: |vocab| keys,
    not |rows|). Docs with < 2 tokens have no bigrams and drop out —
    documented inner-join semantics, mirrored by the oracle."""
    docs = load(spark, sf_dir, "documents")
    toks = F.col("__toks")
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    big = F.zip_with(F.slice(toks, 1, n), F.slice(toks, 2, n),
                     lambda a, b: F.concat_ws(" ", a, b))
    pairs = (docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
             .select("doc_id", F.explode(big).alias("bigram"))
             .withColumn("w1", F.split(F.col("bigram"), " ")[0]))
    tf2 = pairs.groupBy("doc_id", "bigram", "w1").agg(
        F.count("*").alias("tf"))
    c2 = pairs.groupBy("bigram").agg(F.count("*").alias("c2"))
    c1 = pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab_v = (docs.select(F.explode(tokens(F.col("text"))).alias("t"))
               .agg(F.countDistinct("t")).first()[0])
    p = (F.col("c2") + 1).cast("double") / \
        (F.col("c1") + F.lit(int(vocab_v))).cast("double")
    val = (tf2.join(c2, "bigram").join(c1, "w1")
           .withColumn("iv", F.round(F.col("tf") * F.log(p) * 1e9)
                       .cast("bigint")))
    agg = val.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"), F.sum("iv").alias("s"))
    return agg.select(
        "doc_id", "n_bigrams",
        F.round(F.col("s") / 1e9 / F.col("n_bigrams"), 6)
         .alias("avg_logprob"))


def _oracle_bigram_logprob() -> str:
    return f"""
WITH t AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM t),
p2 AS (SELECT doc_id, bigram,
              string_split(bigram, ' ')[1] AS w1 FROM pairs),
tf2 AS (SELECT doc_id, bigram, w1, COUNT(*) AS tf FROM p2 GROUP BY 1, 2, 3),
c2 AS (SELECT bigram, COUNT(*) AS c2 FROM p2 GROUP BY 1),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM p2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT tok) AS vn
      FROM (SELECT unnest(tk) AS tok FROM t)),
val AS (
  SELECT doc_id, tf,
         CAST(round(tf * ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.vn)::DOUBLE)
                    * 1e9) AS BIGINT) AS iv
  FROM tf2 JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v),
agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams, SUM(iv) AS s
        FROM val GROUP BY 1)
SELECT doc_id, n_bigrams, ROUND(s / 1e9 / n_bigrams, 6) AS avg_logprob
FROM agg
"""


HASH_DIM = 256          # feature-hashing bucket count (2^8)


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): tokens map to a fixed
    HASH_DIM-bucket feature space via h60, with a second hash bit deciding
    the sign so collisions cancel in expectation — the featurizer that
    needs NO vocabulary build, no fit stage, and a constant-width output
    at any corpus size. Everything is integer h60 arithmetic, so both
    engines derive identical buckets/signs; the corpus-level projection
    (per-bucket signed weight + touch count) is the bounded-output audit
    of the per-doc vectors a trainer would consume. One explode + one
    256-group aggregate; nothing leaves codegen."""
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(tokens(F.col("text"))).alias("t")))
    bucket = (h60(F.concat(F.lit("fh_"), F.col("t"))) % HASH_DIM).cast("int")
    sign = ((h60(F.concat(F.lit("fhs_"), F.col("t"))) % 2) * 2 - 1).cast("int")
    return (toks.select(bucket.alias("bucket"), sign.alias("sign"))
            .groupBy("bucket")
            .agg(F.sum("sign").alias("signed_weight"),
                 F.count("*").alias("n_tokens")))


def _oracle_feature_hashing() -> str:
    hb = h60_sql("'fh_' || tok")
    hs = h60_sql("'fhs_' || tok")
    return f"""
WITH t AS (SELECT unnest({SQL_TOKENS}) AS tok FROM documents)
SELECT CAST({hb} % {HASH_DIM} AS INTEGER) AS bucket,
       CAST(SUM(({hs} % 2) * 2 - 1) AS BIGINT) AS signed_weight,
       COUNT(*) AS n_tokens
FROM t GROUP BY 1
"""


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling: each document is kept with
    probability proportional to its unique-token ratio (repetitive/spammy
    docs get downweighted), decided by a content-stable h60 gate — NOT
    rand() — so the subsample is identical across engines, retries, and
    partitionings, and the oracle replays the exact decision. The weight
    is integer ppm (nd * 1e6 div n), the gate is h60 % 1e6 < w_ppm: pure
    row-local arithmetic, pushable, no shuffle until the final per-source
    report. This is the per-DOC continuous-weight complement to
    temperature_mixing's source-level resampling."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sized = docs.select(
        "source", "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"))
    w_ppm = F.expr("n_distinct * 1000000 div greatest(n_tok, 1)")
    gate = h60(F.concat(F.lit("resample_"),
                        F.col("doc_id").cast("string"))) % 1_000_000
    kept = sized.withColumn("keep", (gate < w_ppm).cast("int"))
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("keep").alias("n_kept"),
                 F.sum(F.col("keep") * F.col("n_tok"))
                  .alias("tokens_kept")))


def _oracle_importance_resample() -> str:
    gate = h60_sql("'resample_' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH s AS (
  SELECT source, doc_id, len({SQL_TOKENS}) AS n_tok,
         len(list_distinct({SQL_TOKENS})) AS n_distinct
  FROM documents),
k AS (
  SELECT source, n_tok,
         CASE WHEN {gate} % 1000000 <
                   (n_distinct * 1000000) // greatest(n_tok, 1)
              THEN 1 ELSE 0 END AS keep
  FROM s)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(keep * n_tok) AS BIGINT) AS tokens_kept
FROM k GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Watermark late-data drop: the eviction contract, proven
# ---------------------------------------------------------------------------

def q_streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark's DROP side, proven — the other §2.9 entries show
    watermarked results matching batch; this one shows data arriving
    BEHIND the watermark cannot corrupt an already-FINALIZED window.
    Three files drain oldest-mtime-first at maxFilesPerTrigger=1:
    (1) the full events table; (2) a far-future sentinel row (user -1,
    max+30d — the flush-sentinel trick) whose batch both advances the
    watermark past every real window AND triggers the end-of-batch
    eviction that emits all real windows, exactly once, in APPEND mode;
    (3) re-keyed duplicates of the EARLIEST day's rows — behind the
    watermark by a month when they arrive. Append mode makes the drop a
    HARD contract: a finalized window may never be re-emitted, so the
    engine must discard batch 3 entirely (verified counter-case: in
    update mode this same staging re-admits the late rows and the
    earliest day doubles — the documented may-or-may-not-drop softness;
    timing matters too, since a late row arriving before its window's
    eviction legitimately merges in either mode). The sink must equal
    the per-day rollup of the REAL rows alone — any application of
    batch 3 doubles a day or re-emits it as a duplicate row, either of
    which breaks the hash. The sentinel's own window is never passed by
    the watermark, so it stays invisible to the result."""
    import shutil
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src_dir = scratch_dir("latedrop", sf_dir)
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    src = os.path.join(sf_dir, "events.parquet")
    a_path = os.path.join(src_dir, "aa_events.parquet")
    shutil.copy(src, a_path)
    tbl = pq.read_table(src)
    ts = tbl.column("ts")
    import datetime as _dt

    import pyarrow as pa
    lo = pc.min(ts).as_py()
    hi = pc.max(ts).as_py()
    # middle batch: one far-future sentinel row — advances the watermark
    # past every real window and triggers the eviction that finalizes them
    if hasattr(hi, "date"):
        flush = hi + _dt.timedelta(days=30)
    else:  # int64 nanos
        flush = hi + 30 * 86_400_000_000_000
    sent = pa.table(
        {"event_id": [-1], "ts": [flush], "user_id": [-1],
         "event_type": ["view"], "value": [0.0], "props": ["{}"]},
        schema=tbl.schema.remove_metadata())
    m_path = os.path.join(src_dir, "mm_flush.parquet")
    pq.write_table(sent, m_path)
    # late batch: the earliest day's rows, re-keyed so wrongful inclusion
    # is visible in counts, arriving after their windows were finalized
    if hasattr(lo, "date"):
        day_end = (_dt.datetime.combine(lo.date(), _dt.time.min)
                   + _dt.timedelta(days=1))
        mask = pc.less(ts, pa.scalar(day_end, type=ts.type))
    else:  # int64 nanos
        day_ns = 86_400_000_000_000
        mask = pc.less(ts, (lo // day_ns + 1) * day_ns)
    late = tbl.filter(mask)
    late = late.set_column(
        late.schema.get_field_index("event_id"), "event_id",
        pc.add(late.column("event_id"), 10_000_000))
    b_path = os.path.join(src_dir, "zz_late.parquet")
    pq.write_table(late, b_path)
    now = _time.time()
    os.utime(a_path, (now - 100, now - 100))
    os.utime(m_path, (now - 50, now - 50))
    os.utime(b_path, (now, now))

    stream = events_stream(spark, src_dir, src, maxFilesPerTrigger=1)
    agg = (stream.withWatermark("ts", "1 day")
           .groupBy(F.window("ts", "1 day").alias("w"))
           .agg(F.count("*").alias("n")))
    sink = "streaming_late_drop_sink"
    drain_memory(agg, sink, "append")
    return (spark.table(sink)
            .select(F.col("w.start").alias("day"), "n"))


ORACLE_STREAMING_LATE_DROP = """
SELECT date_trunc('day', ts)::TIMESTAMP AS day, COUNT(*) AS n
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Cogrouped applyInPandas: the per-key two-sided Arrow surface
# ---------------------------------------------------------------------------

def q_cogrouped_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COGROUP half of the §2.8 Pandas surface —
    ``groupBy(k).cogroup(other.groupBy(k)).applyInPandas`` — which none of
    the other UDF entries touch: both sides shuffle ONCE on the key and
    arrive at the same task as two Arrow frames, the shape for per-key
    algorithms that need both inputs at once (here pandas.merge_asof: for
    every purchase, the most recent click at-or-before it). Timestamps
    are converted to integer microseconds BEFORE the cogroup so the
    pandas path carries no timezone semantics, and both frames are sorted
    by (us, event_id) so merge_asof's take-last-prior rule lands on a
    pinned total order (ties at equal ts resolve to the max event_id).
    The oracle is the correlated at-or-before top-1 — equality proves the
    cogrouped kernel implements exact as-of semantics, making this the
    Arrow-side twin of operators/joins.py:asof_join (the window form).
    Gaps emit NULL click ids (left as-of join, not inner)."""
    import pandas as pd

    src = load(spark, sf_dir, "events")
    us = event_micros(src)
    base = src.select("user_id", "event_id", "event_type", us.alias("us"))
    purchases = (base.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("event_id").alias("p_id"),
                         F.col("us").alias("p_us")))
    clicks = (base.filter(F.col("event_type") == "click")
              .select("user_id", F.col("event_id").alias("c_id"),
                      F.col("us").alias("c_us")))

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                {"user_id": pd.Series(dtype="int64"),
                 "p_id": pd.Series(dtype="int64"),
                 "c_id": pd.Series(dtype="Int64"),
                 "gap_us": pd.Series(dtype="Int64")})
        left = left.sort_values(["p_us", "p_id"])
        right = (right.drop(columns=["user_id"])
                 .sort_values(["c_us", "c_id"]))
        out = pd.merge_asof(left, right, left_on="p_us", right_on="c_us",
                            direction="backward", allow_exact_matches=True)
        out["c_id"] = out["c_id"].astype("Int64")
        out["gap_us"] = (out["p_us"] - out["c_us"]).astype("Int64")
        return out[["user_id", "p_id", "c_id", "gap_us"]]

    return (purchases.groupBy("user_id")
            .cogroup(clicks.groupBy("user_id"))
            .applyInPandas(merge, "user_id bigint, p_id bigint, "
                                  "c_id bigint, gap_us bigint"))


ORACLE_COGROUPED_ASOF = """
WITH p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click'),
best AS (
  SELECT p.user_id, p.p_id, c.c_id, p.p_us - c.c_us AS gap_us,
         row_number() OVER (PARTITION BY p.p_id
                            ORDER BY c.c_us DESC, c.c_id DESC) AS rn
  FROM p JOIN c ON p.user_id = c.user_id AND c.c_us <= p.p_us)
SELECT user_id, p_id, c_id, gap_us FROM best WHERE rn = 1
UNION ALL
SELECT p.user_id, p.p_id, NULL, NULL
FROM p WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                         AND c.c_us <= p.p_us)
"""


# ---------------------------------------------------------------------------
# Multi-batch incremental backfill: state carried across microbatches
# ---------------------------------------------------------------------------

BACKFILL_CHUNKS = 4


def q_streaming_multibatch_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental backfill parity across MULTIPLE microbatches — the
    missing case next to the other §2.9 entries, whose single-file
    sources usually drain in one batch: here the events table is staged
    as 4 chronological chunk files and consumed with maxFilesPerTrigger=1
    under trigger(availableNow), so the daily aggregation's state is
    built up across >= 4 separate microbatches (asserted in
    tests/test_round4b_plans.py via recentProgress) exactly the way a
    day-by-day historical backfill replays a 100 TB archive through the
    SAME query that then serves the live stream. Update-mode emissions
    land in the memory sink once per (day, batch-that-changed-it); the
    final state per day is the emission with the maximal count (count is
    monotone across batches, and equal counts are identical emissions —
    selecting max(n) needs no batch-id column). Hash equality against the
    batch oracle proves cross-batch state merge is lossless: no chunk
    boundary drops or double-counts a row. No watermark: backfill state
    must NOT be evicted mid-replay (days straddle chunk boundaries);
    the live continuation adds one for eviction once caught up."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src_dir = scratch_dir("backfill", sf_dir)
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    src = os.path.join(sf_dir, "events.parquet")
    tbl = pq.read_table(src)
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    step = (tbl.num_rows + BACKFILL_CHUNKS - 1) // BACKFILL_CHUNKS
    for i in range(BACKFILL_CHUNKS):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(src_dir, f"chunk_{i:02d}.parquet"))

    stream = events_stream(spark, src_dir, src, maxFilesPerTrigger=1)
    agg = (stream.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
           .agg(F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                 .alias("sum_value")))
    sink = "streaming_multibatch_backfill_sink"
    drain_memory(agg, sink, "update")
    w = Window.partitionBy("day").orderBy(F.col("n").desc())
    return (spark.table(sink)
            .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
            .select("day", "n", "sum_value"))


ORACLE_STREAMING_BACKFILL = """
SELECT date_trunc('day', ts)::TIMESTAMP AS day, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Weighted sampling without replacement: deterministic priority sampling
# ---------------------------------------------------------------------------

PRIORITY_SAMPLE_K = 200


def q_priority_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via hash-priority (the
    Duffield-Lund-Thorup priority-sampling scheme, made deterministic):
    each document draws priority = u / w where u is its h60 content hash
    (uniform, reproducible — no rand(), so the sample survives retries,
    repartitioning, and engine swaps) and w = greatest(n_chars, 1) is its
    weight (floored so a zero-length doc gets a finite priority instead
    of a NULL whose sort position differs between engines); the
    k smallest priorities form the sample, giving inclusion probability
    ~ proportional to weight. Division is INTEGER (u div w) with a
    (priority, doc_id) total-order tiebreak, so both engines select the
    identical k documents. The report compares each source's share of
    total WEIGHT against its share of the SAMPLE (both in integer ppm) —
    the proportional-to-size property is measured, not assumed. Scale
    shape: priority is row-local; top-k-by-priority is Spark's
    TakeOrderedAndProject (per-partition heap of k, merge of k*partitions
    — no global sort); shares are windows over the bounded per-source
    table. ppm numerators hold in int64 while total weight < 9.2e12;
    beyond that, compute shares in decimal(38,0)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    pri = (docs.withColumn(
        "u", h60(F.concat(F.lit("ps_"), F.col("doc_id").cast("string"))))
        # greatest(n_chars, 1): a zero-length doc would make the integer
        # division NULL, and Spark sorts NULLs first in ASC while DuckDB
        # defaults NULLS LAST — the guard pins identical selection on
        # both engines
        .withColumn("pri", F.expr("u div greatest(n_chars, 1)")))
    sel = pri.orderBy("pri", "doc_id").limit(PRIORITY_SAMPLE_K)
    tot = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("w"))
    s = sel.groupBy("source").agg(F.count("*").alias("n_sel"))
    wg = Window.partitionBy()
    return (tot.join(s, "source", "left")
            .withColumn("wt", F.sum("w").over(wg))
            .select("source", "n_docs",
                    F.expr("w * 1000000 div wt").alias("weight_share_ppm"),
                    F.coalesce("n_sel", F.lit(0)).cast("bigint")
                     .alias("n_selected"),
                    F.expr(f"coalesce(n_sel, 0) * 1000000 div "
                           f"{PRIORITY_SAMPLE_K}")
                     .alias("selected_share_ppm")))


def _oracle_priority_sample() -> str:
    h = h60_sql("'ps_' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH d AS (SELECT doc_id, source, n_chars,
                  {h} // GREATEST(n_chars, 1) AS pri FROM documents),
sel AS (SELECT source FROM d ORDER BY pri, doc_id
        LIMIT {PRIORITY_SAMPLE_K}),
tot AS (SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS w
        FROM d GROUP BY 1),
s AS (SELECT source, COUNT(*) AS n_sel FROM sel GROUP BY 1)
SELECT t.source, n_docs,
       CAST(w * 1000000 // (SUM(w) OVER ()) AS BIGINT) AS weight_share_ppm,
       COALESCE(n_sel, 0) AS n_selected,
       CAST(COALESCE(n_sel, 0) * 1000000 // {PRIORITY_SAMPLE_K} AS BIGINT)
         AS selected_share_ppm
FROM tot t LEFT JOIN s ON t.source = s.source
"""


TRAINING_QUERIES = [
    QueryDef("shard_balance", q_shard_balance, _oracle_shard_balance(),
             "LLM-shard-pack"),
    QueryDef("priority_sample_weighted", q_priority_sample_weighted,
             _oracle_priority_sample(),
             "LLM-weighted-sample-wor: deterministic priority sampling"),
    QueryDef("bigram_logprob", q_bigram_logprob, _oracle_bigram_logprob(),
             "LLM-lm-score-2"),
    QueryDef("importance_resample", q_importance_resample,
             _oracle_importance_resample(), "LLM-importance-sample"),
    QueryDef("feature_hashing", q_feature_hashing, _oracle_feature_hashing(),
             "LLM-feature-hash"),
    QueryDef("unigram_logprob", q_unigram_logprob, _oracle_unigram_logprob(),
             "LLM-lm-score"),
    QueryDef("kfold_assignment", q_kfold_assignment, _oracle_kfold(),
             "LLM-kfold"),
    QueryDef("rename_normalize", q_rename_normalize, ORACLE_RENAME_NORMALIZE,
             "T6,T7,T15"),
    QueryDef("streaming_daily_rollup", q_streaming_daily_rollup,
             ORACLE_STREAMING_DAILY, "S2.9-streaming", bench=True),
    QueryDef("streaming_sliding_rollup", q_streaming_sliding_rollup,
             ORACLE_STREAMING_SLIDING, "S2.9-streaming-sliding"),
    QueryDef("streaming_keep_latest", q_streaming_keep_latest,
             ORACLE_STREAMING_KEEP_LATEST, "S2.9-stateful,A2"),
    QueryDef("streaming_interval_join", q_streaming_interval_join,
             ORACLE_STREAMING_INTERVAL_JOIN, "S2.9-stream-join,J3"),
    QueryDef("streaming_left_outer_join", q_streaming_left_outer_join,
             ORACLE_STREAMING_LEFT_OUTER_JOIN,
             "S2.9-stream-outer-join,J3"),
    QueryDef("streaming_append_rollup", q_streaming_append_rollup,
             ORACLE_STREAMING_APPEND_ROLLUP,
             "S2.9-append-finalized-windows"),
    QueryDef("streaming_multibatch_backfill", q_streaming_multibatch_backfill,
             ORACLE_STREAMING_BACKFILL,
             "S2.9-multibatch-backfill: cross-batch state merge"),
    QueryDef("cogrouped_asof_pandas", q_cogrouped_asof_pandas,
             ORACLE_COGROUPED_ASOF,
             "S2.8-cogroup: two-sided Arrow applyInPandas as-of merge"),
    QueryDef("streaming_late_data_drop", q_streaming_late_data_drop,
             ORACLE_STREAMING_LATE_DROP,
             "S2.9-late-drop: watermark discards behind-watermark arrivals"),
    QueryDef("streaming_full_outer_join", q_streaming_full_outer_join,
             ORACLE_STREAMING_FULL_OUTER_JOIN,
             "S2.9-stream-full-outer-join,J3"),
    QueryDef("streaming_checkpoint_restart", q_streaming_checkpoint_restart,
             ORACLE_STREAMING_CKPT_RESTART,
             "S2.9-checkpoint-restart: exactly-once across query restart"),
    QueryDef("vocab_coverage_curve", q_vocab_coverage_curve,
             _oracle_vocab_coverage(),
             "LLM-vocab-coverage: Zipf mass curve at probe ks"),
    QueryDef("length_bucketing_waste", q_length_bucketing_waste,
             ORACLE_LENGTH_BUCKETING,
             "LLM-length-bucketing: padding-waste audit per bucket"),
    QueryDef("streaming_sessionization", q_streaming_sessionization,
             ORACLE_STREAMING_SESSIONIZATION, "S2.9-session-window"),
    QueryDef("stratified_sample", q_stratified_sample,
             ORACLE_STRATIFIED_SAMPLE, "LLM-sampling"),
    QueryDef("train_test_split", q_train_test_split, ORACLE_TRAIN_TEST_SPLIT,
             "LLM-split"),
    QueryDef("vocab_topk", q_vocab_topk, ORACLE_VOCAB_TOPK, "LLM-vocab",
             bench=True),
    QueryDef("zscore_groups", q_zscore_groups, ORACLE_ZSCORE_GROUPS,
             "LLM-standardize-udf"),
    QueryDef("tfidf_top_terms", q_tfidf_top_terms, ORACLE_TFIDF,
             "LLM-tfidf", bench=True),
    QueryDef("bigram_topk", q_bigram_topk, ORACLE_BIGRAM, "LLM-ngram"),
    QueryDef("token_kl_divergence", q_token_kl_divergence,
             _oracle_token_kl(), "LLM-mixture-drift"),
    QueryDef("pmi_collocations", q_pmi_collocations, _oracle_pmi(),
             "LLM-collocations"),
    QueryDef("corpus_filter", q_corpus_filter, _oracle_corpus_filter(),
             "LLM-corpus-filter"),
    QueryDef("filter_funnel", q_filter_funnel, _oracle_filter_funnel(),
             "LLM-corpus-funnel"),
    QueryDef("source_mixture", q_source_mixture, _oracle_source_mixture(),
             "LLM-mixing"),
    QueryDef("temperature_mixing", q_temperature_mixing,
             ORACLE_TEMPERATURE_MIXING, "LLM-mixing-temperature"),
    QueryDef("bpe_merge_train", q_bpe_merge_train, ORACLE_BPE_MERGE_TRAIN,
             "LLM-bpe-train"),
    QueryDef("bpe_encode", q_bpe_encode, ORACLE_BPE_ENCODE,
             "LLM-bpe-apply"),
    QueryDef("unigram_lm_train", q_unigram_lm_train,
             ORACLE_UNIGRAM_LM_TRAIN, "LLM-unigram-train"),
    QueryDef("unigram_lm_apply", q_unigram_lm_apply,
             ORACLE_UNIGRAM_LM_APPLY, "LLM-unigram-apply"),
    QueryDef("unigram_perplexity_filter", q_unigram_perplexity_filter,
             ORACLE_UNIGRAM_PPL_FILTER, "LLM-unigram-ppl-filter"),
    QueryDef("sequence_packing", q_sequence_packing, ORACLE_SEQUENCE_PACKING,
             "LLM-seq-pack"),
]
