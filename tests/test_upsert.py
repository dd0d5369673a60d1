"""Upsert writer: idempotency fixed point + partition locality
(the reference's read-merge-dedup-rewrite contract, SURVEY.md §2.4/§4)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from nfl_data_engineering_spark.io import (compact_partitions,
                                           upsert_partitioned,
                                           write_bucketed,
                                           write_partitioned)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "k int, v string, timestamp timestamp")


def test_upsert_idempotent_fixed_point(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = dt.datetime(2024, 1, 15)
    b = _batch(spark, [(1, "a", t), (2, "b", t)])
    upsert_partitioned(spark, b, path, key_cols=None)
    upsert_partitioned(spark, b, path, key_cols=None)  # double-run guard
    assert spark.read.parquet(path).count() == 2


def test_upsert_keyed_keeps_latest(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t1, t2 = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 20)
    upsert_partitioned(spark, _batch(spark, [(1, "old", t1)]), path, key_cols=["k"])
    upsert_partitioned(spark, _batch(spark, [(1, "new", t2)]), path, key_cols=["k"])
    out = spark.read.parquet(path).collect()
    assert len(out) == 1 and out[0]["v"] == "new"


def test_upsert_touches_only_new_partitions(spark, tmp_path):
    path = str(tmp_path / "tbl")
    jan = _batch(spark, [(1, "jan", dt.datetime(2024, 1, 5))])
    feb = _batch(spark, [(2, "feb", dt.datetime(2024, 2, 5))])
    upsert_partitioned(spark, jan, path, key_cols=None)
    jan_dir = os.path.join(path, "year=2024", "month=1")
    before = {f: os.path.getmtime(os.path.join(jan_dir, f))
              for f in os.listdir(jan_dir) if f.endswith(".parquet")}
    upsert_partitioned(spark, feb, path, key_cols=None)
    after = {f: os.path.getmtime(os.path.join(jan_dir, f))
             for f in os.listdir(jan_dir) if f.endswith(".parquet")}
    # dynamic partition overwrite must leave January untouched
    assert before == after
    assert spark.read.parquet(path).count() == 2


def _table_tree(path):
    """Every file and directory under ``path``, with each file's mtime."""
    out = {}
    for root, dirs, files in os.walk(path):
        for d in dirs:
            out[os.path.relpath(os.path.join(root, d), path)] = None
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getmtime(p)
    return out


def test_upsert_declared_partitions_guard(spark, tmp_path):
    """A batch row outside the declared partitions fails the write before
    commit: no file of the table is added, removed or rewritten. Without
    the guard, January would be rewritten and February replaced by the
    stray row alone."""
    path = str(tmp_path / "tbl")
    upsert_partitioned(spark, _batch(spark, [
        (1, "jan", dt.datetime(2024, 1, 5)),
        (2, "feb", dt.datetime(2024, 2, 5))]), path, key_cols=None)
    rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    before = _table_tree(path)
    stray = _batch(spark, [(3, "feb", dt.datetime(2024, 2, 6))])
    with pytest.raises(Exception, match="outside the declared partitions"):
        upsert_partitioned(spark, stray, path, key_cols=None,
                           partitions=[(2024, 1)])
    assert _table_tree(path) == before
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == rows


def test_upsert_new_month_reads_nothing(spark, tmp_path, jobs_submitted,
                                        monkeypatch):
    """A batch for a month with no directory yet reads no existing rows,
    so no schema-inference job runs, whether its partitions are declared
    or probed; a declared new month is the write's jobs alone."""
    from pyspark.sql.readwriter import DataFrameReader

    path = str(tmp_path / "tbl")
    upsert_partitioned(spark, _batch(spark, [(1, "jan", dt.datetime(
        2024, 1, 5))]), path, key_cols=None)
    reads, parquet = [], DataFrameReader.parquet

    def spy(self, *paths, **options):
        reads.append(paths)
        return parquet(self, *paths, **options)
    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    declared = jobs_submitted("upsert_declared_new_month", lambda: (
        upsert_partitioned(spark, _batch(spark, [(2, "feb", dt.datetime(
            2024, 2, 5))]), path, key_cols=None, partitions=[(2024, 2)])))
    upsert_partitioned(spark, _batch(spark, [(3, "mar", dt.datetime(
        2024, 3, 5))]), path, key_cols=None)
    monkeypatch.undo()
    assert reads == []
    assert 1 <= declared <= 2, declared
    assert spark.read.parquet(path).count() == 3


def _parquet_files(d):
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    from nfl_data_engineering_spark.io import with_partition_cols
    path = str(tmp_path / "tbl")
    # simulate incremental appends: many small files in one month partition
    for day in range(1, 6):
        b = _batch(spark, [(day * 10 + i, f"v{day}_{i}",
                            dt.datetime(2024, 5, day)) for i in range(3)])
        (with_partition_cols(b).write.mode("append")
         .partitionBy("year", "month").parquet(path))
    may_dir = os.path.join(path, "year=2024", "month=5")
    assert len(_parquet_files(may_dir)) > 1   # precondition: fragmented
    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    compact_partitions(spark, path, target_files_per_partition=1,
                       partitions=[(2024, 5)])
    assert len(_parquet_files(may_dir)) == 1
    after_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before_rows == after_rows


def test_compaction_salted_multi_file(spark, tmp_path):
    path = str(tmp_path / "tbl")
    b = _batch(spark, [(i, f"v{i}", dt.datetime(2024, 6, 1 + i % 20))
                       for i in range(200)])
    upsert_partitioned(spark, b, path, key_cols=None)
    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    compact_partitions(spark, path, target_files_per_partition=3)
    jun_dir = os.path.join(path, "year=2024", "month=6")
    assert 1 <= len(_parquet_files(jun_dir)) <= 3
    # content invariance, not just count: the salt column must not leak
    # into the output and no row may be lost/duplicated/mutated
    after_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before_rows == after_rows


def test_bucketed_join_is_shuffle_free(spark):
    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "bkt_left", ["k"], num_buckets=8, sort_cols=["k"])
    write_bucketed(right, "bkt_right", ["k"], num_buckets=8, sort_cols=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so bucketing is what avoids the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_write_partitioned_layout(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = _batch(spark, [(1, "a", dt.datetime(2024, 3, 1)),
                        (2, "b", dt.datetime(2024, 4, 1))])
    write_partitioned(df, path)
    assert os.path.isdir(os.path.join(path, "year=2024", "month=3"))
    assert os.path.isdir(os.path.join(path, "year=2024", "month=4"))
    back = spark.read.parquet(path)
    assert back.count() == 2 and "year" in back.columns


def test_fullrow_dedup_rides_the_layout_exchange(spark):
    """The key_cols=None upsert path plans ONE exchange: identical rows
    share (year, month), and hash(year, month) satisfies the all-columns
    dedup's clustered distribution because the partition columns are a
    subset of the grouping keys — so dropDuplicates after the layout
    repartition must introduce no second shuffle (a Spark behavior this
    test pins)."""
    from pyspark.sql import functions as F

    from nfl_data_engineering_spark.io import with_partition_cols
    df = with_partition_cols(_batch(
        spark, [(1, "a", dt.datetime(2024, 1, 15))]), "timestamp")
    deduped = df.repartition(F.col("year"), F.col("month")).dropDuplicates()
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
