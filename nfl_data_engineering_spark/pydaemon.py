"""Python worker daemon tuned for this engine (selected via the public
``spark.python.daemon.module`` conf in session.py; stock ``pyspark.daemon``
behavior is preserved — ``manager`` below IS pyspark's).

Two constant-factor fixes for the per-task Python/Arrow fixed cost that
VERDICT r12 item 1 named the largest cost class in the catalog (measured
by timing an identity mapInArrow over a tiny cached frame at 1, 8 and 32
partitions against the same frame's JVM-only noop write: a warm, reused
worker still pays ~0.20-0.25 s per task BEFORE the UDF is entered):

1. **Memoized ``importlib.invalidate_caches()``** — the dominant term.
   ``pyspark.worker_util.setup_spark_files`` invalidates Python's import
   caches on EVERY task so that files added via ``addPyFile``/``addFile``
   mid-application become importable. With Spark's zip/jar entries on the
   worker PYTHONPATH, each of the ~14 cached ``zipimporter``s re-reads
   its zip central directory eagerly — measured 0.15-0.25 s per task,
   every task, with everything else (worker fork, pandas import, Arrow
   IPC, the UDF itself) in single-digit milliseconds once the worker is
   warm. The patched ``setup_spark_files`` below is byte-for-byte the
   stock logic except that it only invalidates when the (files dir,
   includes list, files-dir stat signature) triple CHANGES — the first
   task of each worker still invalidates, and any ``addPyFile``/
   ``addFile`` changes the triple (new include name, or the files dir's
   mtime/inode moves) and re-invalidates, so the documented semantics
   are kept. Directory-based FileFinders mtime-check themselves on every
   import anyway; only zip archives replaced in place on an unchanged
   path would be missed, which plain Python misses identically.

2. **Pre-fork preload of the Arrow stack** — the stock daemon imports
   ``pyspark.worker`` pre-fork, but the Arrow serializers import
   ``pandas``/``pyarrow`` lazily INSIDE the first Arrow task of each
   forked worker (~0.3 s each, measured). Importing them here, in the
   daemon parent, makes every forked worker inherit them through
   copy-on-write pages: a stage that fans wider than the warm idle pool
   no longer pays an import storm per new worker.

Both fixes are pure constant-factor wins with no effect on task
semantics; at cluster scale they amortize worker cold-start and remove a
per-task tax that is paid millions of times over a 100 TB run.

Fix 1 rebinds a pyspark internal, so it checks itself at import: the
stock function's source must hash to the fingerprint of the reviewed
pyspark 4.1.2 body. On any other body the stock function stays in place
and a warning says so — a pyspark upgrade degrades to stock speed, never
to a stale copy of the stock logic. The patched copy leaves out stock's
``is_remote_only()`` guard (always false in a classic worker); the
fingerprint pins the version that omission was reviewed against.
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import os
import warnings

# ---------------------------------------------------------------------------
# Fix 1: memoized invalidate_caches. Patch pyspark.worker_util FIRST so any
# worker entry module imported later (pyspark.worker via pyspark.daemon,
# pyspark.sql.worker.* for data-source/UDTF planning) binds the patched
# function; then re-bind on modules that already imported it by name.
# ---------------------------------------------------------------------------
import pyspark.worker_util as _WU
from pyspark.serializers import read_int as _read_int

_stock_setup_spark_files = _WU.setup_spark_files
_last_files_state: tuple | None = None


def _setup_spark_files(infile) -> None:
    """Stock setup_spark_files with invalidation memoized on the spark
    files state (see module docstring)."""
    global _last_files_state
    spark_files_dir = _WU.utf8_deserializer.loads(infile)

    from pyspark.core.files import SparkFiles
    SparkFiles._root_directory = spark_files_dir
    SparkFiles._is_running_on_worker = True

    _WU.add_path(spark_files_dir)
    includes = []
    for _ in range(_read_int(infile)):
        filename = _WU.utf8_deserializer.loads(infile)
        includes.append(filename)
        _WU.add_path(os.path.join(spark_files_dir, filename))

    try:
        st = os.stat(spark_files_dir)
        dir_sig: tuple | None = (st.st_mtime_ns, st.st_ino, st.st_size)
    except OSError:
        dir_sig = None
    state = (spark_files_dir, tuple(includes), dir_sig)
    if state != _last_files_state:
        importlib.invalidate_caches()
        _last_files_state = state


# sha256 of inspect.getsource(pyspark.worker_util.setup_spark_files) in
# pyspark 4.1.2 — the body _setup_spark_files reproduces
REVIEWED_SETUP_SHA256 = (
    "fdbcb9682a6c733a3337a7374713f2d8ef7d08388a91f542b77670a31aa28d43")


def _patch_if_reviewed(wu) -> bool:
    """Rebind ``wu.setup_spark_files`` to the memoized copy when the stock
    function is the reviewed body; otherwise keep stock and warn."""
    try:
        src = inspect.getsource(wu.setup_spark_files)
    except (OSError, TypeError):   # no source on disk: cannot review it
        src = ""
    if hashlib.sha256(src.encode()).hexdigest() == REVIEWED_SETUP_SHA256:
        wu.setup_spark_files = _setup_spark_files
        return True
    warnings.warn(
        "pyspark.worker_util.setup_spark_files is not the reviewed pyspark "
        "4.1.2 body; keeping the stock function (import-cache "
        "invalidation is not memoized)", RuntimeWarning, stacklevel=2)
    return False


PATCHED = _patch_if_reviewed(_WU)

# ---------------------------------------------------------------------------
# Fix 2: preload the Arrow stack pre-fork (copy-on-write inheritance).
# Guarded: a preload failure must degrade to lazy imports, never take the
# daemon down.
# ---------------------------------------------------------------------------
try:  # pragma: no cover - environment-dependent
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401
except Exception:  # noqa: BLE001
    pass

# pyspark.daemon imports pyspark.worker (and honors sys.argv[1] custom
# worker modules exactly like the stock launch) — import it AFTER the
# worker_util patch so every worker main sees the memoized function.
from pyspark.daemon import manager  # noqa: E402

import pyspark.worker as _W  # noqa: E402

if PATCHED and getattr(_W, "setup_spark_files",
                       None) is _stock_setup_spark_files:
    _W.setup_spark_files = _setup_spark_files

if __name__ == "__main__":
    manager()
