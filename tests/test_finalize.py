"""finalize()'s checkpoint modes (plans/base.py).

Default: eager localCheckpoint (executor-local, non-replicated — the
local-mode/driver-collect trade documented in finalize's docstring).
SPARK_GRAFT_RELIABLE_CHECKPOINT=1 swaps in a reliable checkpoint under
the context's checkpoint dir — the cluster-mode switch VERDICT r6 item 7
asked to make actionable. Both modes must release the caches they were
handed and return the same rows."""

from __future__ import annotations


from pyspark.sql import functions as F


from nfl_data_engineering_spark.plans.base import finalize  # noqa: E402


def _frame(spark):
    return (spark.range(0, 1000)
            .select(F.col("id"), (F.col("id") % 7).alias("k")))


def test_finalize_reliable_checkpoint_mode(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_NO_FINALIZE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    cache = _frame(spark).cache()
    cache.count()
    result = cache.groupBy("k").agg(F.count("*").alias("n"))
    out = finalize(result, cache)
    # reliable checkpoint: materialized to the checkpoint dir, cache freed
    assert sorted(r["n"] for r in out.collect()) == [142] + [143] * 6
    assert any((tmp_path / "ckpt").rglob("*")), \
        "reliable checkpoint wrote nothing under the checkpoint dir"
    assert cache.storageLevel.useMemory is False, \
        "finalize(reliable) failed to unpersist the cache it was handed"


def test_finalize_checkpoint_release_is_deterministic(spark, monkeypatch):
    """Whatever an entry pins lives until the runner's next
    release_deferred(): a lazy child derived from a finalized frame stays
    readable after the parent wrapper is deleted, and the next
    release_deferred() removes every created id from the persistent
    registry IMMEDIATELY — no gc.collect(), no JVM System.gc(), no poll
    (the ContextCleaner/py4j-detach chain this replaces lost a detach
    about once per three full-suite runs, VERDICT r6 item 1)."""
    from nfl_data_engineering_spark.plans.base import release_deferred
    from nfl_data_engineering_spark.storage import registry_rdd_ids

    monkeypatch.delenv("SPARK_GRAFT_NO_FINALIZE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    release_deferred()                       # drain other tests' leftovers
    before = registry_rdd_ids(spark)
    parent = finalize(_frame(spark).groupBy("k").agg(F.count("*").alias("n")))
    created = registry_rdd_ids(spark) - before
    assert created, "eager localCheckpoint must register a persistent RDD"
    child = parent.filter(F.col("n") > 142)  # lazy: reads the checkpoint
    del parent                               # refcount death — no gc needed
    assert child.count() == 6, "derive-then-drop must stay readable"
    assert created <= registry_rdd_ids(spark)
    assert release_deferred() >= len(created)
    assert not (registry_rdd_ids(spark) & created), \
        "checkpoint blocks must leave the registry at release_deferred()"


def test_finalize_cc_releases_labels_checkpoint(spark, sf_dir, monkeypatch):
    """Under the DISTRIBUTED connected-components path (driver fast path
    disabled), a CC entry must leave at most its own finalize checkpoint
    in the registry — every min-label round checkpoint AND the final
    labels checkpoint are released explicitly (finalize(out, labels)
    releases its ``_ckpt_ids``), not left to the ContextCleaner."""
    from nfl_data_engineering_spark.operators import dedup as D
    from nfl_data_engineering_spark.plans.base import release_deferred
    from nfl_data_engineering_spark.plans.registry import _BY_NAME
    from nfl_data_engineering_spark.storage import registry_rdd_ids

    monkeypatch.delenv("SPARK_GRAFT_NO_FINALIZE", raising=False)
    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_CAP", 0)
    release_deferred()
    spark.catalog.clearCache()
    before = registry_rdd_ids(spark)
    df = _BY_NAME["dedup_components"].spark(spark, sf_dir)
    assert df.count() > 0
    mid = registry_rdd_ids(spark) - before
    assert len(mid) <= 1, (
        f"CC entry left {len(mid)} persistent RDDs beyond its own "
        f"finalize checkpoint: {mid}")
    del df
    release_deferred()
    assert not (registry_rdd_ids(spark) - before)


def test_finalize_default_mode_unchanged(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_NO_FINALIZE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    cache = _frame(spark).cache()
    cache.count()
    result = cache.groupBy("k").agg(F.count("*").alias("n"))
    out = finalize(result, cache)
    assert sorted(r["n"] for r in out.collect()) == [142] + [143] * 6
    assert cache.storageLevel.useMemory is False


def test_sweep_retries_on_transient_release_error(spark, monkeypatch):
    """A ledger item whose release fails on a LIVE session must stay
    parked for the next release_deferred() (round-8 review: dropping it on
    ANY exception leaked the blocks for the session's lifetime); on a
    stopped session it is dropped — its blocks died with the JVM."""
    import nfl_data_engineering_spark.storage as storage
    from nfl_data_engineering_spark.plans.base import release_deferred
    from nfl_data_engineering_spark.storage import registry_rdd_ids

    monkeypatch.delenv("SPARK_GRAFT_NO_FINALIZE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    release_deferred()

    def finalized():
        before = registry_rdd_ids(spark)
        out = finalize(_frame(spark).groupBy("k").agg(F.count("*")))
        created = registry_rdd_ids(spark) - before
        assert created
        return out, created

    orig = storage.unpersist_rdd_ids

    def hiccup(*a):
        raise RuntimeError("transient py4j hiccup")

    # live session: the failed item is retried by the next call (`out`
    # keeps each checkpoint reachable, so only the ledger can free it)
    out, created = finalized()
    monkeypatch.setattr(storage, "unpersist_rdd_ids", hiccup)
    assert release_deferred() == 0
    assert created <= registry_rdd_ids(spark), \
        "blocks must survive a failed release attempt"
    monkeypatch.setattr(storage, "unpersist_rdd_ids", orig)
    assert release_deferred() >= len(created)   # retried
    assert not (registry_rdd_ids(spark) & created)

    # stopped session: the failed item is dropped, not retried
    out, created = finalized()
    monkeypatch.setattr(storage, "unpersist_rdd_ids", hiccup)
    monkeypatch.setattr(storage, "_session_stopped", lambda s: True)
    assert release_deferred() == 0
    monkeypatch.setattr(storage, "unpersist_rdd_ids", orig)
    assert release_deferred() == 0, "a stopped session's item must drop"
    assert created <= registry_rdd_ids(spark)
    assert orig(spark, created) == len(created)   # clean up by hand


def test_cached_plan_aqe_scope_sets_restores_and_rightsizes(spark):
    """scoped_cached_plan_aqe (plans/base.py): inside the scope AQE may
    coalesce a cache-filling plan (a tiny post-shuffle cache materializes
    in far fewer partitions than spark.sql.shuffle.partitions — the fixed
    per-partition Arrow/task cost the round-12 unigram/containment
    entries pay without it); the conf is restored on exit and on error."""
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
