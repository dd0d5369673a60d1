"""Deterministic storage release for what catalog entries pin.

Spark frees a cache only on an explicit unpersist, and a
localCheckpoint's blocks only when the ContextCleaner notices the
JVM-side RDD became garbage — from Python that chain also needs py4j to
deliver the wrapper's detach message, so it is GC-paced and can lose a
detach, pinning one block for the session's life (seen about once per
three full-suite runs before this ledger existed).

One rule takes the GC out of the path: storage is released by the frame
that was made. ``pin(df)`` caches a frame and parks that cached frame
on the ledger in the same call; ``park_frame`` parks a checkpointed
frame (the CC labels, the BPE token table), whose plan reads the
checkpoint's own RDD. ``release_frame`` frees either one, so no release
reads the context-global persistent-RDD registry and no release can
free storage another caller made. The iterative loops (CC min-label
rounds, BPE merge rounds) free round N-1's frame once round N has
materialized, and the rounds still live when they raise.
``release_deferred()`` — called before each entry ``registry.queries()``
hands out and by every catalog runner between entries — releases every
parked frame, so whatever an entry pins lives until the next entry
starts or the runner's next ``release_deferred()``, also when the entry
raised before returning. A ``stage()`` block releases what was parked
inside it on exit, for caches that are dead before the entry returns
(the pair caches once connected components has checkpointed its labels,
one family's caches at a staging barrier).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# the held frames whose release (release_frame) is parked
_LEDGER: list[DataFrame] = []


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
    """Release what a held frame pins: its cache, or, for a checkpointed
    frame, the checkpoint RDD its plan reads (a localCheckpoint frame's
    logical plan is a LogicalRDD over exactly the RDD the checkpoint
    persisted). Submits no job; returns how many storage entries were
    freed."""
    plan = df._jdf.queryExecution().logical()
    # a cached frame over a LogicalRDD (a createDataFrame frame) is a pin:
    # its cache, not its source RDD, is what it holds
    if (plan.getClass().getSimpleName() == "LogicalRDD"
            and df.storageLevel == StorageLevel.NONE):
        plan.rdd().unpersist(False)
    else:
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


def release_deferred() -> int:
    """Release every parked frame; returns how many storage entries were
    freed (failed releases stay parked, see _release). Idempotent;
    catalog runners call it between entries, and ``registry.queries()``
    calls it before each entry, so whatever an entry pins stays cached
    while its result is consumed. Without it a session running the full
    query catalog would keep every entry's caches for its whole life."""
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
