"""Deduplication operators (SURVEY.md §2.4 A1/A2).

Reference semantics:
- A1 full-row dedup: ``drop_duplicates(keep='last')`` over all columns —
  the odds double-run idempotency guard (odds_data_collector.py:40-44).
  keep='last' is irrelevant when duplicates are exact, so Spark's
  order-insensitive ``dropDuplicates()`` is semantically identical.
- A2 keyed keep-latest: ``drop_duplicates(subset=cols_minus_timestamp,
  keep='last')`` — the rankings upsert (team_rankings_data_collector.py:41-45).
  In Spark: row_number over a descending-timestamp window, the canonical
  shuffle-on-key dedup. AQE skew-join/partition handling keeps hot keys from
  stalling a 1000-executor run.
"""

from __future__ import annotations

from contextlib import suppress

from pyspark.sql import DataFrame, Window, functions as F

# Bidirectional-edge count at or below which connected_components runs
# union-find on the driver instead of the distributed min-label loop.
# 50k edges collect to ~a few MB — the same bounded-driver-read class as
# the coalesce right-sizing divisor below, which uses the same constant.
_CC_DRIVER_EDGE_CAP = 50_000


def dedup_full_row(df: DataFrame) -> DataFrame:
    """A1: DISTINCT over the full row."""
    return df.dropDuplicates()


def connected_components(edges: DataFrame, src: str = "a",
                         dst: str = "b") -> DataFrame:
    """Undirected connected components by iterative min-label propagation:
    returns (n, label) — every node mapped to its component's minimum id.

    Each round every node takes the min label among itself and its
    neighbors; labels decrease monotonically, so a stable label sum is the
    fixpoint, reached in O(graph diameter) rounds. One equi-join + one
    groupBy per round; the driver reads only a scalar (summed in
    DECIMAL(38,0): labels are node ids, and an int64 sum of ~1e10 ids
    averaging ~5e9 overflows 2^63 — ANSI mode would throw mid-loop and
    legacy mode would wrap, turning the convergence test into a mod-2^64
    equality that can declare false convergence). Near-dup graphs are
    shallow (diameter a few hops), so this is a handful of shuffles — the
    survivor-selection step of a dedup pipeline at any scale.

    On any mid-loop failure the edge cache and the live round
    checkpoints this call made are released before the exception
    propagates; storage other callers made is never touched.
    """
    # Symmetrize via explode, NOT union of two selects: the union form
    # executes the (often expensive — a 5-join verified-pair plan in the
    # star entries) upstream `edges` plan TWICE, explode reads it once and
    # emits both directions per row. Measured on q_dedup_star_survivors at
    # sf0.1: 5.6 s -> ~3 s steady-state.
    bi_plan = (edges
               .select(F.explode(F.array(
                   F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                   F.struct(F.col(dst).alias("a"), F.col(src).alias("b"))))
                   .alias("e"))
               .select("e.a", "e.b")
               .distinct())
    # Small-graph fast path: at or below _CC_DRIVER_EDGE_CAP bidirectional
    # edges, run union-find on the driver. Near-dup graphs at ANY corpus
    # scale are usually tiny relative to the corpus (247 verified edges
    # from 60k docs at sf0.1), and the distributed min-label loop pays
    # ~0.3 s of scheduling per round regardless of data size — measured
    # ~2 s of pure overhead on that 247-edge graph.
    #
    # ONE capped driver read both DECIDES the path and, below the cap, IS
    # the edge set (a count job filling a cache and a second job
    # collecting it would make the common small-graph path pay cache
    # registration + two jobs + unpersist for data it reads once). The
    # read is bounded to cap+1 rows of two ids — the same driver-read
    # class as the centroid/cut tables of the vector entries. limit's
    # CollectLimit scans all partitions in its FIRST attempt because
    # session.py raises spark.sql.limit.initialNumPartitions (these
    # capped guards want one pass, not the incremental scale-up, and the
    # shuffle feeding the distinct is reused across attempts anyway on a
    # stock session). Past the cap — the actual 100 TB regime — the
    # returned cap+1 rows are discarded and the distributed loop engages
    # on the full (then cached) edge frame, exactly as before.
    rows = bi_plan.limit(_CC_DRIVER_EDGE_CAP + 1).collect()
    if len(rows) <= _CC_DRIVER_EDGE_CAP:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:            # union by MIN root: labels stay the
                lo, hi = min(ra, rb), max(ra, rb)   # component minimum,
                parent[hi] = lo     # matching the min-label fixpoint
        out = [(n, find(n)) for n in parent]
        # schema from the SYMMETRIZED frame, not edges.select(src, src):
        # mixed src/dst types (int src, bigint dst) widen through the
        # explode(array(struct,struct)) coercion, so collected values can
        # exceed the src column's type — and the distributed path returns
        # the widened type, which the fast path must match.
        schema = bi_plan.select(F.col("a").alias("n"),
                                F.col("a").alias("label")).schema
        # pandas+Arrow local table, not the 32-slice pickle parallelize —
        # measured 0.44 s -> 0.11 s warm per call on local[32] (localdf.py)
        from ..localdf import local_df
        return local_df(edges.sparkSession, out, schema)
    # localCheckpoint, not cache: each round's plan references the previous
    # round's twice (self + neighbors), so without lineage truncation the
    # logical plan DOUBLES per iteration — a 50-hop chain OOMs the driver on
    # plan analysis alone. Checkpointing keeps every round's plan flat.
    # eager=False: the convergence-sum collect below materializes the
    # checkpoint in the SAME job, halving the jobs per round; lineage is
    # truncated on that first materialization all the same.
    # Storage discipline: round N's checkpoint reads only round N-1's, so
    # once N materializes (the convergence collect), N-1's blocks are
    # dead — released EXPLICITLY by its own frame (storage.release_frame)
    # rather than left to the ContextCleaner's GC pace (a lost py4j
    # detach pins a block for the session's life). The FINAL labels
    # checkpoint stays persisted — the caller's derived plans read it —
    # for the caller to park (storage.park_frame) until the next entry
    # starts or release_deferred().
    from ..storage import pin, release_frame, stage
    # exact convergence scalar at any scale: see docstring
    label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    # Distributed path only: cache the edge frame (the loop reads it every
    # round) and right-size the iteration to the measured edge count —
    # min-label rounds over 32+ near-empty partitions pay pure scheduling
    # overhead per round (measured: 4.6 s of CC on a 247-edge graph before
    # the right-sizing, ~1 s after). parts scales back up with the graph,
    # so a 100 TB pair graph still spreads. The stage releases the edge
    # cache when the loop ends, also when the fill or the loop raises;
    # pin parks the exact cached plan, so rebinding ``bi`` to the
    # coalesce below cannot turn the release into a CacheManager miss.
    with stage():
        bi = pin(bi_plan)
        n_edges = bi.count()
        live: list[DataFrame] = []   # this call's unreleased rounds
        try:
            # max(cap, 1): tests force this path by monkeypatching the
            # cap to 0, and the coalesce right-sizing must degrade to
            # per-edge partitions, not divide by zero.
            parts = max(1, min(bi.rdd.getNumPartitions(),
                               n_edges // max(_CC_DRIVER_EDGE_CAP, 1)))
            bi = bi.coalesce(parts)
            labels = (bi.select(F.col("a").alias("n")).distinct()
                      .withColumn("label", F.col("n")).coalesce(parts)
                      .localCheckpoint(eager=False))
            live.append(labels)
            old_sum = labels.agg(label_sum).collect()[0][0]
            while True:
                neigh = (bi.join(labels.withColumnRenamed("n", "a")
                                 .withColumnRenamed("label", "nlabel"), "a")
                         .select(F.col("b").alias("n"),
                                 F.col("nlabel").alias("label")))
                labels = (labels.unionByName(neigh)
                          .groupBy("n").agg(F.min("label").alias("label"))
                          .coalesce(parts)
                          .localCheckpoint(eager=False))
                live.append(labels)
                new_sum = labels.agg(label_sum).collect()[0][0]
                release_frame(live.pop(0))   # round N-1: dead once N exists
                if new_sum == old_sum:
                    break
                old_sum = new_sum
        except BaseException:
            # executor loss / OOM / cancellation mid-loop: without this,
            # up to two live round checkpoints stay registered for the
            # session's lifetime. Release them (best-effort: a dead
            # session has no blocks left) and let the failure propagate.
            for f in live:
                with suppress(Exception):
                    release_frame(f)
            raise
    return labels


def dedup_keep_latest(df: DataFrame, key_cols: list[str], ts_col: str = "timestamp",
                      tiebreak_cols: list[str] | None = None) -> DataFrame:
    """A2: keep the newest ``ts_col`` row per key.

    ``tiebreak_cols`` makes the winner deterministic when timestamps tie
    (the reference's keep='last' depends on arrival order — not a property
    a distributed engine should preserve, so we pin a total order instead).
    """
    order = [F.col(ts_col).desc()]
    for c in (tiebreak_cols or []):
        order.append(F.col(c).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # collision-proof scratch name: withColumn would silently REPLACE a
    # pre-existing '__rn' column and drop would then delete the caller's
    # data
    rn = "__rn"
    while rn in df.columns:
        rn += "_"
    return (df.withColumn(rn, F.row_number().over(w))
              .filter(F.col(rn) == 1)
              .drop(rn))
