"""The tuned Python worker daemon (pydaemon.py): memoized import-cache
invalidation semantics, and the session wiring that selects it."""

from __future__ import annotations

import importlib
import io
import os

from pyspark.serializers import write_int, write_with_length

from nfl_data_engineering_spark import pydaemon


def _files_stream(files_dir: str, includes: list[str]) -> io.BytesIO:
    """Serialize the (files dir, includes) section of the worker protocol
    exactly as the JVM writer does: length-prefixed UTF8 dir, include
    count, length-prefixed UTF8 names."""
    buf = io.BytesIO()
    write_with_length(files_dir.encode("utf-8"), buf)
    write_int(len(includes), buf)
    for name in includes:
        write_with_length(name.encode("utf-8"), buf)
    buf.seek(0)
    return buf


def test_invalidate_memoized_on_unchanged_state(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches",
                        lambda: calls.append(1))
    monkeypatch.setattr(pydaemon, "_last_files_state", None)
    d = str(tmp_path)

    pydaemon._setup_spark_files(_files_stream(d, []))
    assert len(calls) == 1, "first task must invalidate"
    pydaemon._setup_spark_files(_files_stream(d, []))
    pydaemon._setup_spark_files(_files_stream(d, []))
    assert len(calls) == 1, "unchanged state must not re-invalidate"


def test_invalidate_fires_on_new_include_or_dir_change(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches",
                        lambda: calls.append(1))
    monkeypatch.setattr(pydaemon, "_last_files_state", None)
    d = str(tmp_path)

    pydaemon._setup_spark_files(_files_stream(d, []))
    # an addPyFile mid-application shows up as a new include name
    pydaemon._setup_spark_files(_files_stream(d, ["dep.zip"]))
    assert len(calls) == 2
    pydaemon._setup_spark_files(_files_stream(d, ["dep.zip"]))
    assert len(calls) == 2
    # an addFile shows up as a files-dir mtime/size change
    (tmp_path / "ref.txt").write_text("x")
    os.utime(d, (0, 0))  # force a distinct mtime signature
    pydaemon._setup_spark_files(_files_stream(d, ["dep.zip"]))
    assert len(calls) == 3


def test_setup_keeps_stock_sparkfiles_side_effects(tmp_path, monkeypatch):
    monkeypatch.setattr(pydaemon, "_last_files_state", None)
    d = str(tmp_path)
    pydaemon._setup_spark_files(_files_stream(d, []))
    import sys

    from pyspark.core.files import SparkFiles
    assert SparkFiles._root_directory == d
    assert SparkFiles._is_running_on_worker is True
    assert d in sys.path


def test_patch_active_on_installed_pyspark(spark):
    """The installed pyspark carries the reviewed setup_spark_files body,
    so the self-check must leave the memoized copy bound — here, and in
    the Python workers the session's daemon forks."""
    import pyspark.worker as W
    import pyspark.worker_util as WU
    assert pydaemon.PATCHED
    assert WU.setup_spark_files is pydaemon._setup_spark_files
    assert W.setup_spark_files is pydaemon._setup_spark_files

    def bound(it):
        import pandas as pd
        import pyspark.worker_util as wu
        for _ in it:
            yield pd.DataFrame({"fn": [wu.setup_spark_files.__qualname__]})

    got = {r["fn"] for r in spark.range(0, 4, 1, 2)
           .mapInPandas(bound, "fn string").collect()}
    assert got == {"_setup_spark_files"}


def test_unreviewed_pyspark_keeps_stock(monkeypatch):
    """A setup_spark_files body that does not match the reviewed
    fingerprint stays stock, with a warning."""
    import types

    import pytest
    monkeypatch.setattr(pydaemon, "REVIEWED_SETUP_SHA256", "0" * 64)
    stock = pydaemon._stock_setup_spark_files
    wu = types.SimpleNamespace(setup_spark_files=stock)
    with pytest.warns(RuntimeWarning, match="keeping the stock function"):
        assert pydaemon._patch_if_reviewed(wu) is False
    assert wu.setup_spark_files is stock


def test_session_selects_pydaemon(spark):
    """The engine session must run its Python workers through the tuned
    daemon (and ship the package dir so the worker python can import it)."""
    assert spark.conf.get("spark.python.daemon.module") == \
        "nfl_data_engineering_spark.pydaemon"
    pythonpath = spark.conf.get("spark.executorEnv.PYTHONPATH")
    assert os.path.isdir(os.path.join(pythonpath,
                                      "nfl_data_engineering_spark"))


def test_arrow_roundtrip_under_pydaemon(spark):
    """End-to-end: an Arrow-batched task produces correct results under
    the tuned daemon (the memoization must not disturb the protocol)."""
    df = spark.range(0, 100, 1, 4)

    def double(it):
        import pyarrow as pa
        for b in it:
            yield pa.record_batch(
                {"v": pa.compute.multiply(b.column("id"), 2)})

    got = sorted(r["v"] for r in
                 df.mapInArrow(double, "v long").collect())
    assert got == [2 * i for i in range(100)]
