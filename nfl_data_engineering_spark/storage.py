"""Deterministic storage release for what catalog entries pin.

Spark frees a cache only on an explicit unpersist, and a
localCheckpoint's blocks only when the ContextCleaner notices the
JVM-side RDD became garbage — from Python that chain also needs py4j to
deliver the wrapper's detach message, so it is GC-paced and can lose a
detach, pinning one block for the session's life (seen about once per
three full-suite runs before this ledger existed).

One ledger takes the GC out of the path. A frame's lifetime is declared
where the frame is made: ``pin(df)`` caches it and parks its release on
the ledger in the same call, and ``park_frame`` parks a checkpointed
helper's ``_ckpt_ids`` (the CC labels, the BPE token table).
``release_parked()`` — called through ``plans.base.release_deferred()``
before each entry ``registry.queries()`` hands out and by every catalog
runner between entries — runs them all, so whatever an entry pins lives
until the next entry starts or the runner's next ``release_deferred()``,
also when the entry raised before returning. A ``stage()`` block
releases what was parked inside it on exit, for caches that are dead
before the entry returns (the pair caches once connected components
has checkpointed its labels, one family's caches at a staging barrier).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

# the held frames whose release (release_frame) is parked
_LEDGER: list[DataFrame] = []


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
    _LEDGER.append(df)


def pin(df: DataFrame) -> DataFrame:
    """Cache ``df`` and park the release of that exact cached frame;
    returns it. Submits no job: the cache fills on its first action."""
    cached = df.cache()
    park_frame(cached)
    return cached


def _release(frames: list[DataFrame]) -> tuple[int, list[DataFrame]]:
    """Release each frame; returns how many storage entries were freed
    and the frames to keep parked. A frame stays parked only when its
    release fails on a LIVE session (dropping it on a transient py4j
    error would leak its blocks for the session's lifetime); on a
    stopped session the blocks died with the JVM and it is dropped."""
    n = 0
    keep: list[DataFrame] = []
    for df in frames:
        try:
            n += release_frame(df)
        except Exception:
            if not _session_stopped(df.sparkSession):
                keep.append(df)
    return n, keep


def release_parked() -> int:
    """Release every parked frame; returns how many storage entries
    were freed (failed releases stay parked, see _release)."""
    n, keep = _release(_LEDGER)
    _LEDGER[:] = keep
    return n


@contextmanager
def stage() -> Iterator[None]:
    """On exit, normal or raising, release exactly the frames parked
    inside the block; what was parked before it stays parked. A frame
    another driver thread parks meanwhile counts as inside, so stages
    run on single-threaded paths only (as every stage here does)."""
    mark = len(_LEDGER)
    try:
        yield
    finally:
        inside = _LEDGER[mark:]
        del _LEDGER[mark:]
        _LEDGER.extend(_release(inside)[1])
