"""Streaming ingestion: the odds append-feed semantics, Spark-native.

The reference implements streaming semantics by hand: scheduled batch runs
that read-modify-write a month partition with a full-row dedup as the
idempotency guard (odds_data_collector.py:30-51). Structured Streaming
replaces that with:

- ``readStream`` over an arriving-files directory (or any source),
- event-time watermark bounding state,
- ``dropDuplicatesWithinWatermark`` as the exactly-once-per-row guard,
- partitioned parquet sink with checkpointing (exactly-once file sink),
- ``trigger(availableNow=True)`` so the same pipeline runs as an
  incremental batch job — the reference's scheduled-Lambda cadence without
  the manual merge.

Late data: the watermark bounds how out-of-order an arrival may be; the
reference's explicit-date backfill runs (src/main.py:27-35) stay a batch
path via io.upsert_partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

EVENTS_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def read_event_stream(spark: SparkSession, src_dir: str,
                      schema: T.StructType = EVENTS_STREAM_SCHEMA,
                      fmt: str = "json",
                      max_files_per_trigger: int = 64) -> DataFrame:
    return (spark.readStream.format(fmt).schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(src_dir))


def deduped_stream(stream: DataFrame, watermark: str = "1 day",
                   key_cols: list[str] | None = None) -> DataFrame:
    """Watermarked dedup: the streaming twin of A1 full-row dedup.
    ``key_cols=None`` dedups on all non-ts columns + ts (exact row)."""
    keys = key_cols or [c for c in stream.columns]
    return (stream
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def write_partitioned_stream(df: DataFrame, out_dir: str, checkpoint_dir: str,
                             available_now: bool = True) -> StreamingQuery:
    """Hive year/month partitioned sink, exactly-once via checkpoint; the
    on-disk layout matches the batch writer (io.write_partitioned) and the
    reference (README.md:43-60)."""
    out = (df.withColumn("year", F.year("ts"))
             .withColumn("month", F.month("ts")))
    writer = (out.writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .partitionBy("year", "month")
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def keep_latest_stream(stream: DataFrame, key_cols: list[str], ts_col: str,
                       value_cols: list[str],
                       tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Stateful keep-latest-per-key over a stream — the rankings upsert
    (team_rankings_data_collector.py:34-50) as a continuously-maintained
    state instead of a read-modify-write batch, on
    ``applyInPandasWithState``.

    Per-key state holds the newest (ts, tiebreaks, values) seen; each
    microbatch emits the key's current latest row (update semantics).
    State is one tuple per key — size is O(|keys|), independent of stream
    length. Pair with ``writeStream.outputMode("update")``.

    ``tiebreak_cols`` pin a total order among rows sharing a timestamp
    (greatest tiebreak wins). Without one, a ts tie makes "latest"
    arrival-order-dependent — nondeterministic under re-partitioning.
    The tiebreak columns are carried in the state and emitted in the
    output so downstream selection can re-apply the same order.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    tiebreaks = tiebreak_cols or []
    ord_cols = [ts_col, *tiebreaks]
    key_fields = [stream.schema[c] for c in key_cols]
    tb_fields = [stream.schema[c] for c in tiebreaks]
    val_fields = [stream.schema[c] for c in value_cols]
    ts_field = stream.schema[ts_col]
    out_schema = T.StructType(
        key_fields + [ts_field] + tb_fields + val_fields)
    state_schema = T.StructType([ts_field] + tb_fields + val_fields)
    n_ord = 1 + len(tiebreaks)
    out_cols = [*key_cols, ts_col, *tiebreaks, *value_cols]

    def fn(key: tuple, pdfs, state: GroupState):
        """Newest (ts, *tiebreaks) wins, across batches and the state."""
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            if pdf.empty:
                continue
            local = pdf.sort_values(ord_cols, kind="mergesort").iloc[-1]
            cand = (local[ts_col].to_pydatetime(),
                    *[v.item() if hasattr(v, "item") else v
                      for v in (local[c] for c in (*tiebreaks,
                                                   *value_cols))])
            if best is None or cand[:n_ord] > best[:n_ord]:
                best = cand
        if best is not None:
            state.update(best)
            yield pd.DataFrame([key + best], columns=out_cols)

    return (stream.groupBy(*key_cols)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def interval_join_streams(left: DataFrame, right: DataFrame,
                          key: str = "user_id", ts_col: str = "ts",
                          lookback: str = "1 hour",
                          watermark: str = "1 day",
                          how: str = "inner") -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events of the same key from the preceding ``lookback`` window — the
    streaming twin of the batch range join (plans/relational.py:
    q_clicks_before_purchase), e.g. purchases joined to their recent clicks.

    Both sides carry watermarks and the join condition bounds right-side
    event time to [left_ts - lookback, left_ts), so Spark can expire join
    state: each side's buffer holds at most watermark + lookback of data
    per key — bounded state, which is what makes this runnable forever at
    100 TB/day. Right columns come back suffixed ``_r``.

    ``how='leftOuter'`` additionally emits each unmatched left row once,
    null-padded — but only AFTER the watermark passes the row's join
    window (Spark must prove no matching right row can still arrive
    before declaring the left row unmatched). A finite drain therefore
    only flushes the outer rows the final watermark has cleared; callers
    wanting a complete flush must advance the watermark past the data
    (e.g. a far-future sentinel row on both inputs)."""
    renamed = right.select(
        F.col(key).alias(f"{key}_r"), F.col(ts_col).alias(f"{ts_col}_r"),
        *[F.col(c).alias(f"{c}_r") for c in right.columns
          if c not in (key, ts_col)])
    l = left.withWatermark(ts_col, watermark)
    r = renamed.withWatermark(f"{ts_col}_r", watermark)
    cond = ((F.col(key) == F.col(f"{key}_r"))
            & (F.col(f"{ts_col}_r") >= F.col(ts_col) - F.expr(f"INTERVAL {lookback}"))
            & (F.col(f"{ts_col}_r") < F.col(ts_col)))
    joined = l.join(r, cond, how)
    if how in ("fullOuter", "full_outer", "full", "outer"):
        # unmatched RIGHT rows carry a NULL left key — fold the right key
        # in before dropping it, or those rows lose their identity
        joined = joined.withColumn(
            key, F.coalesce(F.col(key), F.col(f"{key}_r")))
    return joined.drop(f"{key}_r")


def windowed_counts_stream(stream: DataFrame, window: str = "1 hour",
                           watermark: str = "1 day",
                           slide: str | None = None) -> DataFrame:
    """Streaming windowed aggregation (the 'last 12 weeks' rollup pattern,
    README.md:124-137, computed incrementally). ``slide=None`` gives
    tumbling windows; a slide shorter than the window gives overlapping
    sliding windows (each event feeds window/slide open windows — the
    streaming twin of the batch q_sliding_windows). State is bounded by the
    watermark either way: windows older than it are finalized and dropped."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window, slide or window).alias("w"),
                     "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n", "sum_value"))


def enrich_stream(stream: DataFrame, dim: DataFrame,
                  key: str, how: str = "left") -> DataFrame:
    """Stream-static enrichment join: every microbatch joins against the
    (batch) dimension frame — the streaming twin of the J2 dimension joins
    and the standard shape for decorating an event feed with slowly-
    changing reference data. The static side is re-read per microbatch, so
    an upserted dimension table (io.upsert_partitioned) is picked up on the
    next trigger without restarting the query; Catalyst broadcasts it
    under the threshold. No watermark is needed — stream-static joins are
    stateless (state is the dimension, not stream history)."""
    return stream.join(F.broadcast(dim), key, how)


def session_counts_stream(stream: DataFrame, gap: str = "30 minutes",
                          watermark: str = "1 day") -> DataFrame:
    """Streaming sessionization: native session_window with a dynamic gap —
    the incremental twin of the batch q_user_sessions. A session stays open
    (in state) while events keep arriving within ``gap``; it is finalized
    and emitted only once the watermark passes its close, so append-mode
    sinks see each session exactly once and state is bounded by
    O(open sessions), not history."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", gap).alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "sum_value"))


def upsert_stream(stream: DataFrame, table_path: str, checkpoint_dir: str,
                  key_cols: list[str] | None, ts_col: str = "ts",
                  available_now: bool = True,
                  tiebreak_cols: list[str] | None = None) -> StreamingQuery:
    """Streaming MERGE into the partitioned lakehouse table: every
    microbatch runs through io.upsert_partitioned via foreachBatch, so the
    sink gets the SAME keep-latest/dedup semantics as the batch collectors
    (read only touched year/month partitions, window-dedup, dynamic
    overwrite). The checkpoint makes replayed batches re-run the upsert,
    which is idempotent by construction — exactly-once table state without
    a transactional table format. This is the streaming twin of the
    reference's read-merge-rewrite loop (team_rankings_data_collector.py:
    34-50) with the rewrite scoped to touched partitions."""
    from ..io import upsert_partitioned

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_partitioned(batch_df.sparkSession, batch_df, table_path,
                           key_cols=key_cols, ts_col=ts_col,
                           tiebreak_cols=tiebreak_cols)

    writer = (stream.writeStream.foreachBatch(merge_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
