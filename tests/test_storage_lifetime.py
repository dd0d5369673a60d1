"""The storage-lifetime contract (storage.py): ``pin(df)`` caches a frame
and parks its release on the ledger in the same call, submitting no job;
``park_frame`` parks a checkpointed frame, released through the RDD its
own plan reads. A parked frame stays filled while the entry's result is
consumed and is released by the next release_deferred() — or when the
next entry ``registry.queries()`` hands out starts. A ``stage()`` block
releases exactly what was parked inside it, on a normal or a raising
exit. No release touches storage another caller made, also while an
iterative checkpoint loop runs."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from nfl_data_engineering_spark import storage
from nfl_data_engineering_spark.plans.base import release_deferred
from nfl_data_engineering_spark.storage import (park_frame, pin,
                                                release_frame, stage)


def _frame(spark, n=1000):
    return (spark.range(0, n)
            .select(F.col("id"), (F.col("id") % 7).alias("k")))


def _filled_pin(spark, n=1000):
    """A filled pinned cache; distinct ``n`` give distinct cache entries
    (equal plans share one CacheManager entry)."""
    cache = pin(_frame(spark, n))
    cache.count()
    return cache


def _parked(df) -> bool:
    return any(p is df for p in storage._LEDGER)


def _checkpoint_id(df) -> int | None:
    """The registry id of a localCheckpoint frame's own RDD (its logical
    plan is a LogicalRDD over exactly the RDD the checkpoint persisted),
    or None for a frame that is not a checkpoint."""
    plan = df._jdf.queryExecution().logical()
    if (plan.getClass().getSimpleName() != "LogicalRDD"
            or df.storageLevel != StorageLevel.NONE):
        return None
    return int(plan.rdd().id())


def test_pin_submits_no_job_and_parks_the_cached_frame(spark,
                                                        jobs_submitted):
    """pin submits 0 jobs and returns the cached frame itself, parked on
    the ledger; its release submits 0 jobs too."""
    release_deferred()
    frame = _frame(spark)
    out = []
    assert jobs_submitted("pin-lazy", lambda: out.append(pin(frame))) == 0
    assert out[0] is frame
    assert frame.storageLevel != StorageLevel.NONE
    assert _parked(frame), "pin must park the frame it cached"
    assert jobs_submitted("pin-release",
                          lambda: out.append(release_deferred())) == 0
    assert out[1] >= 1
    assert frame.storageLevel == StorageLevel.NONE


def test_pinned_frame_lives_until_the_next_drain(spark):
    """A pinned frame stays cached while the result that reads it is
    consumed; the next release_deferred() unpersists it."""
    release_deferred()
    cache = _filled_pin(spark)
    result = cache.groupBy("k").agg(F.count("*").alias("n"))
    assert sorted(r["n"] for r in result.collect()) == [142] + [143] * 6
    assert cache.storageLevel != StorageLevel.NONE, \
        "a pinned cache must stay cached while the result is consumed"
    assert release_deferred() >= 1
    assert cache.storageLevel == StorageLevel.NONE, \
        "release_deferred() must unpersist the pinned cache"
    assert not _parked(cache)


def test_stage_releases_only_its_own_pins(spark):
    """A stage() releases what was pinned inside it when the block ends,
    also when the block raises, and leaves what was pinned before it
    cached and parked."""
    release_deferred()
    outer = _filled_pin(spark)
    with stage():
        inner = _filled_pin(spark, 1001)
        assert inner.storageLevel != StorageLevel.NONE
    assert inner.storageLevel == StorageLevel.NONE, \
        "the stage must release what was pinned inside it"
    assert not _parked(inner)
    assert outer.storageLevel != StorageLevel.NONE and _parked(outer), \
        "the stage must leave an earlier pin alone"

    with pytest.raises(RuntimeError, match="inside the stage"):
        with stage():
            failed = _filled_pin(spark, 1002)
            raise RuntimeError("inside the stage")
    assert failed.storageLevel == StorageLevel.NONE, \
        "a raising stage must still release its pins"
    assert outer.storageLevel != StorageLevel.NONE and _parked(outer)
    release_deferred()
    assert outer.storageLevel == StorageLevel.NONE


def test_entry_that_raises_leaves_nothing_pinned(spark, sf_dir,
                                                 monkeypatch, registry_ids):
    """An entry that raises after pinning (dedup_minhash_lsh with its
    candidate join failing, after the shingle arrays and bands are
    cached) leaves nothing behind once the runner drains the ledger."""
    from nfl_data_engineering_spark.plans import registry, textops

    def boom(*a, **kw):
        raise RuntimeError("injected candidate-join failure")

    release_deferred()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    base_ids = registry_ids()
    monkeypatch.setattr(textops, "candidate_pairs", boom)
    with pytest.raises(RuntimeError, match="injected"):
        registry.queries()["dedup_minhash_lsh"](spark, sf_dir)
    assert not cm.isEmpty(), "the entry must have pinned before raising"
    release_deferred()
    assert cm.isEmpty(), "a raising entry's pins outlived the drain"
    assert registry_ids() == base_ids


def _checkpointed(spark, registry_ids):
    """A checkpointed helper frame, the shape of the connected-components
    labels and the BPE table, plus the registry id its own plan names."""
    before = registry_ids()
    helper = _frame(spark).localCheckpoint(eager=True)
    ckpt_id = _checkpoint_id(helper)
    assert registry_ids() - before == {ckpt_id}, \
        "the frame's plan must name the RDD its checkpoint registered"
    return helper, ckpt_id


def test_parked_checkpoint_release_is_deterministic(spark, registry_ids,
                                                    jobs_submitted):
    """Whatever an entry parks lives until the runner's next
    release_deferred(): a lazy child derived from a parked frame stays
    readable after the parent wrapper is deleted, and the next
    release_deferred() removes the held checkpoint's ids from the
    persistent registry IMMEDIATELY — no gc.collect(), no JVM
    System.gc(), no poll (the ContextCleaner/py4j-detach chain the
    ledger replaces lost a detach about once per three full-suite
    runs). The release submits no job."""
    release_deferred()                       # drain other tests' leftovers
    helper, ckpt_id = _checkpointed(spark, registry_ids)
    created = {ckpt_id}
    park_frame(helper)
    parent = helper.groupBy("k").agg(F.count("*").alias("n"))
    child = parent.filter(F.col("n") > 142)  # lazy: reads the checkpoint
    del parent, helper                       # refcount death — no gc needed
    assert child.count() == 6, "derive-then-drop must stay readable"
    assert created <= registry_ids()
    freed = []
    assert jobs_submitted("ckpt-release",
                          lambda: freed.append(release_deferred())) == 0
    assert freed[0] >= len(created)
    assert not (registry_ids() & created), \
        "checkpoint blocks must leave the registry at release_deferred()"


def test_cc_labels_checkpoint_lives_until_the_drain(spark, sf_dir,
                                                    monkeypatch,
                                                    registry_ids):
    """Under the DISTRIBUTED connected-components path (driver fast path
    disabled), every min-label round checkpoint and the pair caches are
    released inside the entry; the final labels checkpoint (its frame
    parked on the ledger) stays registered while the result is consumed and
    leaves the registry at release_deferred(), with nothing the entry
    created left behind."""
    from nfl_data_engineering_spark.operators import dedup as D
    from nfl_data_engineering_spark.plans.registry import _BY_NAME

    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_CAP", 0)
    release_deferred()
    spark.catalog.clearCache()
    before = registry_ids()
    df = _BY_NAME["dedup_components"].spark(spark, sf_dir)
    assert df.count() > 0
    labels = {i for i in map(_checkpoint_id, storage._LEDGER)
              if i is not None}
    assert len(labels) == 1, "the entry must park the labels checkpoint"
    mid = registry_ids() - before
    assert labels <= mid, \
        "the labels checkpoint must stay registered until release_deferred()"
    assert mid == labels, (
        f"CC entry left persistent RDDs beyond its labels checkpoint: "
        f"{mid - labels}")
    del df
    release_deferred()
    assert not (registry_ids() - before)


def _foreign_storage_mid_loop(spark, registry_ids, monkeypatch) -> dict:
    """Wrap DataFrame.localCheckpoint so that its SECOND call (a loop's
    first round after its seed) first makes storage another caller owns:
    an eager checkpoint and a filled cache. Returns a dict that receives
    both frames and the registry ids they added."""
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.localCheckpoint
    made: dict = {"calls": 0}

    def wrapped(self, *a, **kw):
        made["calls"] += 1
        if made["calls"] == 2:
            before = registry_ids()
            made["ckpt"] = orig(_frame(spark, 1003), eager=True)
            made["cache"] = _frame(spark, 1004).cache()
            made["cache"].count()
            made["ids"] = registry_ids() - before
        return orig(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", wrapped)
    return made


def _assert_foreign_storage_intact(made, registry_ids):
    try:
        assert len(made["ids"]) == 2, \
            "a checkpoint and a cache must register"
        assert made["ids"] <= registry_ids(), \
            "a checkpoint loop released storage it did not make"
        assert made["ckpt"].count() == 1003
        assert made["cache"].storageLevel != StorageLevel.NONE
        assert made["cache"].count() == 1004
    finally:
        release_frame(made["ckpt"])
        made["cache"].unpersist()


def test_cc_rounds_leave_foreign_storage_alone(spark, monkeypatch,
                                              registry_ids):
    """The distributed connected-components loop releases only its own
    round checkpoints: a checkpoint and a cache another caller makes
    while the loop runs still read, and stay registered, after it
    returns."""
    from nfl_data_engineering_spark.operators import dedup as D

    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_CAP", 0)
    release_deferred()
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 7)],
                                  "a: long, b: long")
    made = _foreign_storage_mid_loop(spark, registry_ids, monkeypatch)
    labels = D.connected_components(edges)
    assert made["calls"] > 2, "the loop must run rounds after the seed"
    assert {r["label"] for r in labels.collect()} == {1}
    _assert_foreign_storage_intact(made, registry_ids)
    release_frame(labels)


def test_bpe_steps_leave_foreign_storage_alone(spark, sf_dir, monkeypatch,
                                               registry_ids):
    """The BPE merge loop releases only its own step checkpoints: a
    checkpoint and a cache another caller makes while the loop runs still
    read, and stay registered, after it returns."""
    from nfl_data_engineering_spark.functions.text import tokens
    from nfl_data_engineering_spark.plans.base import load
    from nfl_data_engineering_spark.plans.training import _bpe_loop

    release_deferred()
    tok = (load(spark, sf_dir, "documents")
           .select("doc_id", F.posexplode(tokens(F.col("text")))
                   .alias("pos", "t")))
    made = _foreign_storage_mid_loop(spark, registry_ids, monkeypatch)
    final, log = _bpe_loop(tok, 3)
    assert made["calls"] == 3 and [r[3] > 0 for r in log] == [True] * 3
    _assert_foreign_storage_intact(made, registry_ids)
    release_frame(final)


def test_sweep_retries_on_transient_release_error(spark, monkeypatch):
    """A parked frame whose release fails on a LIVE session must stay
    parked for the next release_deferred() (dropping it on any exception
    would leak its blocks for the session's lifetime); on a stopped
    session it is dropped — its blocks died with the JVM."""
    release_deferred()
    orig = storage.release_frame

    def hiccup(df):
        raise RuntimeError("transient py4j hiccup")

    # live session: the failed item is retried by the next call
    cache = _filled_pin(spark)
    monkeypatch.setattr(storage, "release_frame", hiccup)
    assert release_deferred() == 0
    assert cache.storageLevel != StorageLevel.NONE, \
        "a cache must survive a failed release attempt"
    monkeypatch.setattr(storage, "release_frame", orig)
    assert release_deferred() >= 1   # retried
    assert cache.storageLevel == StorageLevel.NONE

    # stopped session: the failed item is dropped, not retried
    cache = _filled_pin(spark)
    monkeypatch.setattr(storage, "release_frame", hiccup)
    monkeypatch.setattr(storage, "_session_stopped", lambda s: True)
    assert release_deferred() == 0
    monkeypatch.setattr(storage, "release_frame", orig)
    assert release_deferred() == 0, "a stopped session's item must drop"
    assert cache.storageLevel != StorageLevel.NONE
    cache.unpersist()                # clean up by hand


def test_queries_loop_drains_each_entry(spark, sf_dir, monkeypatch,
                                        registry_ids):
    """A runner's loop over ``__spark_entry__.queries()`` that consumes
    each entry and never calls release_deferred(). Starting an entry
    must release what the previous one pinned — a pair-table shingle
    cache (containment_join), the connected-components labels
    checkpoint (dedup_components, on its distributed path) — so the
    session ends with only the last entry's storage."""
    from nfl_data_engineering_spark.operators import dedup as D

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as se

    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_CAP", 0)

    release_deferred()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    base_ids = registry_ids()
    qs = se.queries()
    earlier: set[int] = set()
    for name in ("heavy_hitters_cms", "containment_join",
                 "dedup_components", "best_snapshot"):
        earlier |= registry_ids() - base_ids
        assert qs[name](spark, sf_dir).count() >= 0
    assert not (earlier & registry_ids()), \
        "an earlier entry's persisted RDDs outlived the next entry's start"
    assert cm.isEmpty(), \
        "an earlier entry's cache outlived the next entry's start"
    release_deferred()
    assert not (registry_ids() - base_ids)


def test_cached_plan_aqe_scope_sets_restores_and_rightsizes(spark):
    """scoped_cached_plan_aqe (plans/base.py): inside the scope AQE may
    coalesce a cache-filling plan (a tiny post-shuffle cache materializes
    in far fewer partitions than spark.sql.shuffle.partitions — the fixed
    per-partition Arrow/task cost the unigram/containment entries pay
    without it); the conf is restored on exit and on error."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    from nfl_data_engineering_spark.plans.base import scoped_cached_plan_aqe

    before = spark.conf.get(key)
    assert before == "false"  # Spark default: cache partitioning pinned

    tiny = (_frame(spark).groupBy("k").agg(F.count("*").alias("n")))

    @scoped_cached_plan_aqe
    def entry(spark, sf_dir):
        assert spark.conf.get(key) == "true"
        c = tiny.cache()
        try:
            c.count()
            # 7 groups over a 32-partition shuffle: AQE coalesces the
            # cached plan to a handful of partitions instead of 32
            return c.rdd.getNumPartitions()
        finally:
            c.unpersist()

    assert entry(spark, None) < int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    assert spark.conf.get(key) == before

    @scoped_cached_plan_aqe
    def failing(spark, sf_dir):
        raise RuntimeError("boom")

    try:
        failing(spark, None)
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before
