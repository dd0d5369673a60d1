"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``),
but every knob below is chosen for the 1000-executor / 100 TB target:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  the same plan survives a 1000x scale-up without re-tuning.
- ``spark.sql.shuffle.partitions`` seeds AQE; at cluster scale you'd raise
  the *initial* number (AQE coalesces down, never splits wide).
- Arrow execution for the Pandas-UDF paths (similarity / multimodal ops).
- Dynamic partition overwrite so the upsert writer (io.upsert_partitioned)
  rewrites only touched year/month partitions — the reference rewrites one
  month per run (src/data_collectors/odds_data_collector.py:30-51); we keep
  that locality but let Catalyst prune.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# AQE coalescing floor (see get_spark); a cluster profile that wants the
# stock 1 MB floor sets the Spark conf on its own session.
AQE_MIN_PARTITION_SIZE = "256k"


def get_spark(app_name: str = "nfl-data-engineering-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing keeps parallelismFirst semantics (target =
        # max(shuffle_bytes / parallelism, minPartitionSize)), but the
        # default 1 MB floor caps compute-dense small shuffles at
        # bytes/1MB tasks — e.g. the 6 MB pair self-join feeding
        # triangle_count ran 5 tasks on 32 cores. 256 KB
        # frees those stages to use the cores; at production scale
        # bytes/parallelism >> 1 MB, so the floor never binds and the
        # partition sizing is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                AQE_MIN_PARTITION_SIZE)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # CollectLimit's incremental partition scan (1, then x4 per
        # attempt) re-runs post-shuffle work per attempt; the engine's
        # limits are capped driver-read GUARDS over already-computed
        # frames (the CC edge-cap probe), not top-k early exits, so one
        # all-partition pass is strictly cheaper. Result-invariant.
        .config("spark.sql.limit.initialNumPartitions", "10000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python Data Source connectors (sources/datasource.py) declare
        # pushFilters; without this flag Spark refuses the reader outright
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # WholeStageCodegen emits one compiled class per plan shape; a long
        # session running the full catalog fills the JVM's default 240 MB
        # code cache, after which the JIT stops compiling and hot loops fall
        # back to the interpreter (measured: the SRP-LSH verify stage went
        # 4s -> 20s over the 18-query bench run). 1 GB keeps every stage
        # JIT-compiled for the whole session.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # the console progress bar writes into the same terminal stream
        # as the tools' line-oriented output (parity's OK/FAIL lines)
        # and splits those lines; the Spark UI keeps the progress
        .config("spark.ui.showConsoleProgress", "false")
        # bucketed-table writes (io.write_bucketed) need a warehouse; keep
        # it out of the repo tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               os.path.join(tempfile.gettempdir(),
                                            "spark_graft_warehouse")))
        # files.maxPartitionBytes default 128m is right for the target; on
        # the tiny local testdata AQE coalescing handles the small files.
    )
    # Python worker daemon with (a) importlib cache invalidation memoized
    # on the spark-files state and (b) the Arrow stack preloaded pre-fork
    # — kills the measured ~0.2 s PER-TASK fixed cost every Python-
    # boundary task pays (the zipimporters on the worker PYTHONPATH
    # re-read their zip central directory on every task's
    # importlib.invalidate_caches; measured by timing an identity
    # mapInArrow over a tiny cached frame at 1, 8 and 32 partitions
    # against the same frame's JVM-only noop write, see pydaemon.py;
    # perfbench/run.py --trace 1 reports python.tasks). Paid once per task —
    # millions of times over a 100 TB run; semantics unchanged
    # (addPyFile/addFile still re-invalidate). executorEnv.PYTHONPATH
    # makes the module importable by the worker python (the factory
    # MERGES it with Spark's own python path, never replaces). The daemon
    # checks the pyspark function it rebinds at startup and keeps the
    # stock one on any unreviewed pyspark version.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (builder
               .config("spark.python.daemon.module",
                       "nfl_data_engineering_spark.pydaemon")
               .config("spark.executorEnv.PYTHONPATH", pkg_parent))
    return builder.getOrCreate()
