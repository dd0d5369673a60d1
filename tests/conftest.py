from __future__ import annotations

import os
import sys

import pytest

try:
    from nfl_data_engineering_spark.session import get_spark
except ImportError:
    # not pip-installed (pip install -e .) and pytest invoked without the
    # repo root on sys.path (the bare `pytest` binary does not add cwd)
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from nfl_data_engineering_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def jobs_submitted(spark):
    """``jobs_submitted(group, fn)`` runs ``fn`` under a Spark job group and
    returns how many jobs it submitted."""
    sc = spark.sparkContext

    def count(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the listener bus; let it catch up
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count


@pytest.fixture
def registry_ids(spark):
    """``registry_ids()`` returns the ids in the context's persistent-RDD
    registry. Tests observe the registry through it; package code never
    reads the registry (it releases storage by the frame that made it)."""
    def ids() -> set[int]:
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        out: set[int] = set()
        while it.hasNext():
            out.add(int(it.next()))
        return out
    return ids

