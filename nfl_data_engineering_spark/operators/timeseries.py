"""Time-series operators (SURVEY.md §2.2 T13/T14, §2.9 windows).

The reference builds hourly tz-localized DatetimeIndex frames driver-side
(weather_client.py:132-150). Spark-native: ``sequence(start, stop, interval)``
+ ``explode`` generates the spine distributed, and ``from_utc_timestamp``
handles venue-timezone localization (src/main.py:31-35).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def spine_from_bounds(df: DataFrame, ts_col: str, interval: str = "1 hour") -> DataFrame:
    """Hourly spine spanning [min(ts) truncated, max(ts) truncated] of ``df``.

    The bounds aggregate is a single-row reduce; the sequence explode then
    fans back out across executors — no driver-side date_range loop.
    """
    unit = interval.split()[-1].rstrip("s")
    bounds = df.agg(
        F.date_trunc(unit, F.min(ts_col)).alias("lo"),
        F.date_trunc(unit, F.max(ts_col)).alias("hi"))
    return bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr(f"interval {interval}"))).alias("bucket"))


def interpolate_linear(df: DataFrame, ts_col: str, value_col: str,
                       key_cols: list[str] | None = None,
                       out_col: str = "value_interp") -> DataFrame:
    """Linear interpolation of NULL gaps in a time series (the weather
    client's dense-frame contract when observations are missing).

    Two windows per key — last non-null before, first non-null after — then
    a weighted blend by time fraction. Leading/trailing gaps take the
    nearest observed value. One shuffle on the key (or one global sort
    window when keyless); no driver loops, no UDFs.
    """
    keys = key_cols or []
    base = Window.partitionBy(*keys).orderBy(F.col(ts_col)) if keys else \
        Window.orderBy(F.col(ts_col))
    w_prev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_next = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    v = F.col(value_col)
    obs_ts = F.when(v.isNotNull(), F.col(ts_col))
    prev_v = F.last(v, ignorenulls=True).over(w_prev)
    prev_ts = F.last(obs_ts, ignorenulls=True).over(w_prev)
    next_v = F.first(v, ignorenulls=True).over(w_next)
    next_ts = F.first(obs_ts, ignorenulls=True).over(w_next)
    frac = ((F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts))
            .cast("double")
            / (F.unix_timestamp(next_ts) - F.unix_timestamp(prev_ts))
            .cast("double"))
    interp = (F.when(v.isNotNull(), v)
              .when(prev_v.isNull(), next_v)
              .when(next_v.isNull(), prev_v)
              .otherwise(prev_v + (next_v - prev_v) * frac))
    return df.withColumn(out_col, interp)


def zero_filled_counts(df: DataFrame, ts_col: str, interval: str = "1 hour",
                       out_count: str = "n") -> DataFrame:
    """Bucketed event counts with gap buckets present at 0 — the weather
    client's dense-hourly-frame contract over any event feed."""
    unit = interval.split()[-1].rstrip("s")
    counts = (df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket"))
                .agg(F.count("*").alias(out_count)))
    spine = spine_from_bounds(df, ts_col, interval)
    return (spine.join(counts, "bucket", "left")
            .select("bucket", F.coalesce(F.col(out_count), F.lit(0)).alias(out_count)))
