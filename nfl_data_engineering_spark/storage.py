"""Deterministic storage release for what catalog entries pin.

Spark frees a cache only on an explicit unpersist, and a
localCheckpoint's blocks only when the ContextCleaner notices the
JVM-side RDD became garbage — from Python that chain also needs py4j to
deliver the wrapper's detach message, so it is GC-paced and can lose a
detach, pinning one block for the session's life (seen about once per
three full-suite runs before this ledger existed).

One ledger takes the GC out of the path: ``plans.base.finalize`` parks
one release action per held frame (a cache, or a checkpointed helper's
``_ckpt_ids``), and ``release_parked()`` — called through
``plans.base.release_deferred()`` before each entry
``registry.queries()`` hands out and by every catalog runner between
entries — runs them all. Whatever an entry pins lives until the next
entry starts or the runner's next ``release_deferred()``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

# (session, release action returning the storage entries it freed)
_LEDGER: list[tuple[object, Callable[[], int]]] = []


def registry_rdd_ids(spark) -> set[int]:
    """Ids currently in the context's persistent-RDD registry."""
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    out: set[int] = set()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def unpersist_rdd_ids(spark, ids) -> int:
    """Explicitly unpersist the given registry ids (non-blocking), via
    the public JavaRDD.unpersist on the registry's own wrappers. Ids no
    longer registered are skipped — double-release is a no-op."""
    if not ids:
        return 0
    n = 0
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        if int(e.getKey()) in ids:
            e.getValue().unpersist(False)
            n += 1
    return n


class CheckpointRotator:
    """Registry-diff release for iterative checkpoint loops (the CC
    min-label rounds, the BPE merge rounds): round N's checkpoint reads
    only round N-1's, so once N materializes, N-1's blocks are dead and
    are unpersisted EXPLICITLY — no ContextCleaner, no GC pacing (the
    py4j-detach race in the module docstring). One shared implementation
    so the protocol's subtleties (snapshot-then-release ordering,
    first-round empty set, final ``prev_ids`` hand-off to ``_ckpt_ids``)
    cannot drift between the two loops.

    Same context-global-registry caveat as the loops themselves: diffs
    attribute every id created between snapshots to this loop, so run one
    rotating loop at a time per SparkSession.

    Usage::

        rot = CheckpointRotator(spark)
        try:
            for ...:
                frame = plan.localCheckpoint(...)
                ... materialize frame ...
                rot.rotate()          # releases round N-1's blocks
        except BaseException:
            rot.release_all()         # failure path: release every round
            raise
        result._ckpt_ids = rot.prev_ids   # final round: caller releases
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self._base = registry_rdd_ids(spark)
        self._seen = set(self._base)
        self.prev_ids: set[int] = set()

    def rotate(self) -> None:
        """Call after materializing round N: release round N-1's blocks
        and adopt round N's ids as the new previous round."""
        now = registry_rdd_ids(self.spark)
        unpersist_rdd_ids(self.spark, self.prev_ids)
        self.prev_ids = now - self._seen
        self._seen = now

    def release_all(self) -> None:
        """Failure path: release every id registered since construction
        (best-effort — a dead session has no blocks left to release)."""
        try:
            unpersist_rdd_ids(self.spark,
                              registry_rdd_ids(self.spark) - self._base)
        except Exception:
            pass


def _session_stopped(spark) -> bool:
    """Best-effort 'is this session dead' probe. If the probe itself
    fails we cannot tell — report stopped, matching the old behavior of
    dropping the entry (an unbounded retry list for a zombie session is
    the worse failure mode)."""
    try:
        sc = spark.sparkContext
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:
        return True


def release_frame(df: DataFrame) -> int:
    """Release what a held frame pins: a checkpointed helper's registry
    ids (``_ckpt_ids``: the CC labels, the BPE token table), else its
    cache. Returns how many storage entries were freed."""
    ids = getattr(df, "_ckpt_ids", None)
    if ids is not None:
        return unpersist_rdd_ids(df.sparkSession, ids)
    df.unpersist()
    return 1


def park_frame(df: DataFrame) -> None:
    """Park a held frame's release (release_frame) on the ledger."""
    _LEDGER.append((df.sparkSession, lambda: release_frame(df)))


def release_parked() -> int:
    """Run every ledger action; returns how many storage entries were
    freed. An action stays parked only when it fails on a LIVE session
    (dropping it on a transient py4j error would leak its blocks for the
    session's lifetime); on a stopped session the blocks died with the
    JVM and the action is dropped."""
    n = 0
    keep: list[tuple[object, Callable[[], int]]] = []
    for spark, release in _LEDGER:
        try:
            n += release()
        except Exception:
            if not _session_stopped(spark):
                keep.append((spark, release))
    _LEDGER[:] = keep
    return n
