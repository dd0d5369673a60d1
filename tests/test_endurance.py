"""Full-catalog endurance proof for the storage ledger (storage.pin /
plans.base.release_deferred): run EVERY catalog entry in ONE
SparkSession, the way the external driver and a long-lived service
would, and assert the session ends with zero leaked storage:

* the CacheManager must be empty — a q_* that caches an intermediate
  without storage.pin pins it for the session's lifetime;
* no persisted RDD the catalog created may remain in the block registry
  after the last release_deferred() — whatever an entry pins lives
  until the runner's next release_deferred(), with no GC in the path.

Runs at sf0.001 so the whole catalog fits the CI budget; leak behavior
is scale-independent (it's registry bookkeeping, not data volume)."""

from __future__ import annotations

import warnings


def _persistent_rdds(spark) -> dict[int, str]:
    """id -> 'Name MapPartitionsRDD[42] at localCheckpoint at <callsite>'
    for every RDD in the context's persistent registry. The callsite is
    what lets a failure name its creator."""
    out: dict[int, str] = {}
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        out[int(e.getKey())] = str(e.getValue().rdd().toString())
    return out


def _run_catalog(spark, sf_dir) -> tuple[list[str], dict[int, str]]:
    """Returns the failures plus a per-id attribution map (id -> creating
    entry) so a surviving block names its creator, not just a py4j
    '<unknown>:0' callsite."""
    from nfl_data_engineering_spark.plans.base import release_deferred
    from nfl_data_engineering_spark.plans.registry import CATALOG

    failures: list[str] = []
    created_by: dict[int, str] = {}
    prev_ids = set(_persistent_rdds(spark))
    for q in CATALOG:
        try:
            df = q.spark(spark, sf_dir)
            df.count()           # consume like the driver does
        except Exception as e:   # noqa: BLE001 — collect all, report once
            failures.append(f"{q.name}: {type(e).__name__}: {str(e)[:120]}")
        release_deferred()       # everything the entry pinned
        cur = set(_persistent_rdds(spark))
        for i in cur - prev_ids:
            created_by[i] = q.name
        prev_ids = cur
    return failures, created_by


def test_full_catalog_single_session_releases_all_storage(spark, sf_dir):
    spark.catalog.clearCache()   # start clean regardless of test order

    # Blocks registered BEFORE the catalog runs belong to sibling tests
    # sharing the session fixture, not to the engine under test: the
    # assertion below owns only ids created DURING the catalog run, so
    # suite order can't fail this test for another test's hygiene (a
    # sibling's pinned block once made this red in-suite and green in
    # isolation).
    # Siblings still get named — a non-empty baseline is warned loudly.
    baseline = _persistent_rdds(spark)
    if baseline:
        warnings.warn(
            "persisted RDDs pinned by earlier tests at endurance start: "
            + "; ".join(f"id={i}: {s}" for i, s in baseline.items()))

    failures, created_by = _run_catalog(spark, sf_dir)
    assert not failures, failures

    # 1) no DataFrame cache may outlive its entry
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        "CacheManager entries leaked past their catalog entry — some q_* "
        "caches an intermediate without storage.pin, so "
        "release_deferred() never releases it")

    # 2) the last release_deferred() freed every registry id the catalog
    # created — no gc.collect(), no System.gc(), no poll
    left = {i: s for i, s in _persistent_rdds(spark).items()
            if i not in baseline}
    assert not left, (
        f"{len(left)} catalog-created persisted RDDs still registered "
        f"after the last release_deferred(): " + "; ".join(
            f"id={i} (created by {created_by.get(i, 'unattributed')}): {s}"
            for i, s in left.items()))
