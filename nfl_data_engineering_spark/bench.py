"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "unit": "sec", "queries": {name: sec},
"sf": ..., "reps": N, "value": total_sec}.

Protocol (min-of-N across fresh sessions is the DEFAULT): the whole pinned set
is repeated ``--min-of N`` times (default 2, env SPARK_GRAFT_BENCH_REPS), each
repetition in a freshly built SparkSession (previous one stopped), and the
reported per-query time is the minimum across repetitions. Single-session
totals were observed to swing ±15% with machine state (a 45.4-58.4 s spread on
an unchanged tree; a near-uniform +13% on another). Scope of the isolation:
stopping the context resets BlockManager storage, the CacheManager, and
shuffle/scheduler state per rep, but local mode keeps ONE JVM for the whole
process, so JIT/codegen caches and heap history carry across reps (later reps
run warm — which the min-estimator wants) and the estimator suppresses
machine-state noise by taking the min across repetitions, not by per-rep JVM
isolation. Within each rep every query is still run twice back-to-back and
takes the min (steady-state estimator; JIT/GC jitter dominates single runs at
this data size); the entries whose deltas ride the noise floor get a third
in-rep run (EXTRA_RUN_QUERIES).

Each query is executed to completion (noop sink materializes every
output column; count() would let Catalyst skip projections) after a
warm-up pass of the whole set at sf0.001 — whole-stage codegen compiles
per plan *shape*, so warm-up charges JIT/codegen compilation where at
the 100 TB target it would be noise.

Lives in the package (console script ``nfl-spark-bench``); the repo-root
``bench.py`` the external driver invokes is a thin wrapper around
:func:`main`.
"""

from __future__ import annotations

import json
import os
import sys
import time

from .plans.base import release_deferred
from .plans.registry import bench_queries
from .session import get_spark

WARMUP_SF_DIR = "/root/testdata/sf0.001"

# Queries whose run-to-run delta rides the ±0.4 s noise floor get a
# third in-rep run — min-of-3 within each rep, on top of the
# min-across-reps — so run-to-run comparison stops tracking machine
# state on exactly the entries where drift triage is expensive.
# pricing_summary is scan-bound, so its wall tracks machine state: it
# moved by >10% between runs with identical plans, and min-of-3 holds
# it steady.
EXTRA_RUN_QUERIES = frozenset({
    "similarity_join_api", "leakage_safe_split", "dedup_star_survivors",
    "pricing_summary"})


def _run(q, spark, sf_dir) -> float:
    """Execute one query to full materialization, after releasing what
    the previous run pinned (a repeat run must not read the caches its
    predecessor filled) and collecting the garbage that leaves (GC debt
    measured ~2x on the LSH queries)."""
    release_deferred()
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    t0 = time.time()
    q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _rep(sf_dir: str, rep: int,
         env_out: dict | None = None) -> tuple[dict[str, float], dict[str, float]]:
    """One full repetition of the pinned set in a fresh SparkSession:
    warm-up every plan shape at sf0.001, then per-query min-of-2 at the
    target sf (min-of-3 for EXTRA_RUN_QUERIES). Returns
    ({name: sec}, {name: max-min spread across the in-rep runs}).
    ``env_out``, if given, receives the session's effective master and
    scheduler parallelism so the JSON line can attest the core count it
    actually ran with: without it a scaling check cannot tell "ignores
    $SPARK_GRAFT_CPUS" from "driver-bound at this SF"."""
    spark = get_spark(f"bench-rep{rep}")
    if env_out is not None:
        env_out["master"] = spark.sparkContext.master
        env_out["parallelism"] = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for q in bench_queries():
            _run(q, spark, WARMUP_SF_DIR)

        timings: dict[str, float] = {}
        deltas: dict[str, float] = {}
        for q in bench_queries():
            n_runs = 3 if q.name in EXTRA_RUN_QUERIES else 2
            runs = [_run(q, spark, sf_dir) for _ in range(n_runs)]
            timings[q.name] = min(runs)
            deltas[q.name] = max(runs) - min(runs)
            print(f"# rep{rep} {q.name}: {timings[q.name]:.2f}s "
                  f"(delta {deltas[q.name]:.2f}s)", file=sys.stderr)
        return timings, deltas
    finally:
        spark.stop()


def _reps_requested(argv: list[str]) -> int:
    """--min-of N / --min-of=N (CLI) beats SPARK_GRAFT_BENCH_REPS (env)
    beats 2. A missing or non-integer value is a clear usage error, not
    an IndexError/ValueError traceback."""
    def parse(val: str) -> int:
        try:
            return max(1, int(val))
        except ValueError:
            raise SystemExit(
                f"bench: --min-of needs an integer, got {val!r}") from None

    for i, a in enumerate(argv):
        if a == "--min-of":
            if i + 1 >= len(argv):
                raise SystemExit("bench: --min-of needs an integer argument")
            return parse(argv[i + 1])
        if a.startswith("--min-of="):
            return parse(a.split("=", 1)[1])
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))


def main() -> None:
    # stale names would silently degrade an entry back to min-of-2 and
    # put its delta back on the noise floor — the exact triage cost the
    # set exists to remove (same rule as registry._PRIORITY's
    # stale-name assert)
    stale = EXTRA_RUN_QUERIES - {q.name for q in bench_queries()}
    assert not stale, f"EXTRA_RUN_QUERIES not in the bench set: {stale}"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    n_reps = _reps_requested(sys.argv)

    best: dict[str, float] = {}
    deltas: dict[str, float] = {}
    env: dict = {}
    for rep in range(1, n_reps + 1):
        timings, rep_deltas = _rep(sf_dir, rep, env)
        rep_total = sum(timings.values())
        print(f"# rep{rep} total: {rep_total:.2f}s", file=sys.stderr)
        for name, t in timings.items():
            best[name] = min(best.get(name, t), t)
            deltas[name] = min(deltas.get(name, rep_deltas[name]),
                               rep_deltas[name])

    queries = {name: round(t, 3) for name, t in best.items()}
    # run-to-run deltas go to STDERR: they are jitter diagnostics, and
    # keeping them out of the stdout JSON matters — the external driver
    # records only a bounded TAIL of stdout, and a delta-inflated line
    # overflowed that window, cutting off the leading fields and
    # breaking the driver's parse.
    print("# run_delta: "
          + json.dumps({n: round(d, 3) for n, d in deltas.items()}),
          file=sys.stderr)
    # field order is deliberate: queries first, headline total LAST, so a
    # tail-truncated capture still ends with the machine-readable total.
    # master/parallelism/sf_dir are ADDITIONS: they
    # attest the effective core count so a ~1 scaling ratio is verifiable
    # as "driver-bound at this SF" rather than "harness ignores CPUS".
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "sf_dir": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "master": env.get("master"),
        "parallelism": env.get("parallelism"),
        "reps": n_reps,
        "value": round(sum(best.values()), 3),
    }))


if __name__ == "__main__":
    main()
