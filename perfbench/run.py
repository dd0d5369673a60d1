"""Layered benchmark of the nfl_data_engineering_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload as a closed loop (one client; each op starts when the
previous one ends) in one process on ``local[<cores>]``:

1. inputs: generated from seeds into ``.perfbench/`` at the checkout root
   and cached there (generation time is reported, never timed);
2. set-up, three times: ``get_spark`` (the first call launches the JVM,
   later ones restart the context) plus an engine warm-up; ``setup_s`` is
   the median;
3. warm-up to level-off, untimed: ``catalog`` runs every op once on the
   full inputs and checks it against its DuckDB oracle; then each
   workload runs a fixed number of untimed passes;
4. timed passes of all the workload's ops until ``--seconds`` have passed
   (at least ``min_passes``), in an order permuted by the seed in
   ``catalog``, on batches drawn from the seed in ``lake_ingest``;
5. ``lake_ingest`` checks its final tables and reads against the same
   batches replayed in DuckDB.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a separate traced
run, whose spans are written to ``.perfbench/spans/``.  The lines before
it print every metric by name and unit, including the ones that apply to
one workload only (write latency and amplification on ``lake_ingest``),
``error_rate`` and the query tail.  perfbench/README.md has the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

from probes import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SETUPS = 3
CATALOG_DATA_SEED = 42        # catalog tables are fixed; --seed orders ops
# Spark's driver heap cap: with 2g the peak RSS of catalog runs spread 11-21 %
# across seeds (how far the heap grew before a collection), with 1g 4 %
DRIVER_MEM = "1g"

# name -> (scale factor of the generated tables, bench-pinned entries)
CATALOG_WORKLOADS = {
    "catalog": (0.01, ["pricing_summary", "heavy_hitters_cms",
                      "odds_python_source"]),
}
WORKLOADS = (*CATALOG_WORKLOADS, "lake_ingest")

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
# Layer times every workload spends are in seconds per pass; a layer only
# some workloads reach reports its self time as a share (%) of the traced
# pass, so that a layer a workload never calls reads 0 % rather than a
# constant 0 s.
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_pct": "%", "plans.eager_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_pct": "%",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB", "exec.output_mb": "MB",
    "exec.core_util": "ratio",
    "driver.gap_s": "s",
    "python.tasks": "count", "python.bytes_to_worker_mb": "MB",
    "python.bytes_from_worker_mb": "MB", "python.eval_pct": "%",
    "storage.release_s": "s", "storage.released": "count",
    "storage.cached_peak_mb": "MB", "storage.leaked_rdds": "count",
    "io.upsert_pct": "%", "io.compact_pct": "%",
    "io.files_written": "count", "io.bytes_written_mb": "MB",
    "io.partitions_rewritten": "count", "io.rows_rewritten": "count",
    "pipelines.odds_pct": "%",
    "jvm.jit_s": "s",
    "trace.pass_s": "s",
}
# span name -> per-layer share of the traced pass
SELF_PCT = {"plans.build": "plans.build_pct", "io.upsert": "io.upsert_pct",
            "io.compact": "io.compact_pct",
            "pipelines.odds": "pipelines.odds_pct"}
# totals the shares above are taken from; printed in the info line
RAW = ("exec.gc_s", "exec.job_s", "python.eval_s", "python.start_s")


class Run:
    """Per-run state the workloads share: the session, the tracer, the
    Spark counters and the op records of the timed passes."""

    def __init__(self, workload: str, tracer) -> None:
        self.workload = workload
        self.tracer = tracer
        self.spark = None
        self.pid = os.getpid()
        self.ops: list[dict] = []       # one record per timed op
        self.errors: list[str] = []     # failed ops and wrong outputs
        self.groups: list[str] = []     # job groups of the current pass
        self.layer: dict[str, float] = dict.fromkeys((*PER_LAYER, *RAW), 0.0)
        self.exec_run_s = self.op_core_s = 0.0

    def op(self, name: str, kind: str, fn, p: int | str, i: int) -> dict:
        """Time one op, including the release of what it left cached; an
        exception counts as a failure and is named.  CPU seconds leave
        out the JVM's JIT compiler threads, whose share of a pass varies
        with how far compilation has got and with the host."""
        group = f"p{p}.{i}.{name}"
        self.tracer.op = group
        self.tracer.job_group(self.spark, group)
        self.groups.append(group)
        rec = {"name": name, "kind": kind, "pass": p, "ok": True}
        t0, (c0, j0) = time.perf_counter(), tree_cpu_s(self.pid)
        try:
            with self.tracer.span("op"):
                rec["result"] = fn()
        except Exception:
            rec["ok"] = False
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        if self.tracer.traced:
            from probes import storage_mb
            self.layer["storage.cached_peak_mb"] = max(
                self.layer["storage.cached_peak_mb"], storage_mb(self.spark))
        self.release()
        rec["wall"] = time.perf_counter() - t0
        c1, j1 = tree_cpu_s(self.pid)
        rec["cpu"] = (c1 - j1) - (c0 - j0)
        self.ops.append(rec)
        return rec

    def release(self) -> None:
        """Drop the op's caches and checkpoints (the catalog runners'
        contract, plans.base.release_deferred)."""
        from nfl_data_engineering_spark.plans.base import release_deferred
        from probes import persistent_rdds
        with self.tracer.span("storage.release"):
            before = persistent_rdds(self.spark)
            n = release_deferred()
            self.spark.catalog.clearCache()
            n += max(0, before - n - persistent_rdds(self.spark))
        self.layer["storage.released"] += n


class Catalog:
    """Bench-pinned catalog entries on generated tables: each op is one
    ``QueryDef.spark`` call plus a noop-sink write of its result."""

    min_passes = 4
    warm_passes = 4

    def __init__(self, name: str, run: Run) -> None:
        from nfl_data_engineering_spark.plans.registry import bench_queries
        self.run = run
        self.sf, names = CATALOG_WORKLOADS[name]
        by_name = {q.name: q for q in bench_queries()}
        self.queries = [by_name[n] for n in names]

    def prepare(self) -> dict:
        self.data = catalog_data(self.sf)
        return {"sf": self.sf, "ops": [q.name for q in self.queries],
                "tables": self.data["rows"], "gen_s": self.data["gen_s"],
                "cached": self.data["cached"]}

    def level_off(self, spark, rng: random.Random) -> None:
        """The output check runs every op once on the full inputs, then
        ``warm_passes`` untimed passes."""
        self.checked = self._check(spark)
        for k in range(self.warm_passes):
            self.run_pass(spark, f"warm{k}", rng)

    def check(self, spark) -> tuple[int, int]:
        return self.checked

    def _check(self, spark) -> tuple[int, int]:
        """Every op against its DuckDB oracle on the same tables; returns
        (ops checked, ops wrong)."""
        import duckdb
        from nfl_data_engineering_spark.parity import TABLES, compare
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data['dir']}/{t}.parquet'")
        bad = 0
        self.check_s = {}
        for q in self.queries:
            t0 = time.perf_counter()
            try:
                errs = compare(q.spark(spark, self.data["dir"]).toPandas(),
                               con.execute(q.oracle).df())
            except Exception as e:
                errs = [f"{type(e).__name__}: {e}"]
            self.run.release()
            self.check_s[q.name] = round(time.perf_counter() - t0, 3)
            self.run.errors.extend(f"{q.name}: {e}" for e in errs)
            bad += bool(errs)
        con.close()
        return len(self.queries), bad

    def run_pass(self, spark, p, rng: random.Random) -> None:
        order = list(self.queries)
        rng.shuffle(order)
        tr = self.run.tracer
        for i, q in enumerate(order):
            def body(q=q):
                with tr.span("plans.build"):
                    df = q.spark(spark, self.data["dir"])
                tr.catalyst(df)
                with tr.span("driver.action"):
                    df.write.format("noop").mode("overwrite").save()
            self.run.op(q.name, "query", body, p, i)

    def report(self) -> dict:
        return {"first_touch_s": self.check_s}


def catalog_data(sf: float) -> dict:
    """The generated catalog tables at ``sf``, cached on disk."""
    from datagen import catalog_tables
    d = os.path.join(WORK, "data", f"catalog-sf{sf}-seed{CATALOG_DATA_SEED}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return {**json.load(f), "dir": d, "cached": True}
    t0 = time.perf_counter()
    rows = catalog_tables(d, sf, CATALOG_DATA_SEED)
    info = {"rows": rows, "gen_s": time.perf_counter() - t0}
    with open(manifest, "w") as f:
        json.dump(info, f)
    return {**info, "dir": d, "cached": False}


def set_up(run: Run, layer_starts: list[float], cpu: list[float]) -> float:
    """One set-up: a (re)started session plus an engine warm-up that plans
    and runs a shuffle and collects through Arrow."""
    from pyspark.sql import functions as F
    from nfl_data_engineering_spark.session import get_spark
    t0, c0 = time.perf_counter(), tree_cpu_s(run.pid)[0]
    if run.spark is not None:
        run.spark.stop()
    run.spark = get_spark(f"perfbench-{run.workload}")
    layer_starts.append(time.perf_counter() - t0)
    run.spark.sparkContext.setLogLevel("ERROR")
    (run.spark.range(0, 100_000, numPartitions=8)
     .groupBy((F.col("id") % 97).alias("k")).agg(F.sum("id")).toPandas())
    cpu.append(tree_cpu_s(run.pid)[0] - c0)
    return time.perf_counter() - t0


def median_pass(ops: list[dict], key: str) -> float:
    """One pass as the sum, over its ops, of each op's median over the
    timed passes (an op is its name and its occurrence in the pass), so
    that a slow spell in one op of a pass does not move the figure."""
    seen: dict[tuple, int] = {}
    by_op: dict[tuple, list[float]] = {}
    for o in ops:
        n = seen[o["pass"], o["name"]] = seen.get((o["pass"], o["name"]), 0) + 1
        by_op.setdefault((o["name"], n), []).append(o[key])
    return sum(statistics.median(v) for v in by_op.values())


def stop_processes(run: Run) -> None:
    """Stop the session and the JVM, and wait for every descendant process
    (the JVM, the Python worker daemon and its workers) to end."""
    from pyspark import SparkContext
    from probes import descendants
    if run.spark is not None:
        run.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nfl_data_engineering_spark")):
        print("perfbench: the engine's sources are not beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        import nfl_data_engineering_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout
    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # the JVM's own temp files (native libraries it unpacks, Spark's
        # artifact dir, perf data) go to /tmp otherwise
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(WORK, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
                               "pyspark-shell"})
    from probes import NullTracer, RssSampler, SparkCounters, Tracer, tail

    run = Run(args.workload, NullTracer())
    if args.workload == "lake_ingest":
        from lake import LakeIngest
        workload = LakeIngest(run, WORK, args.seed)
    else:
        workload = Catalog(args.workload, run)
    sampler = RssSampler()
    phase: dict[str, float] = {}
    try:
        t = time.perf_counter()
        inputs = workload.prepare()
        phase["prepare"] = time.perf_counter() - t
        starts: list[float] = []
        setup_cpu: list[float] = []
        setups = [set_up(run, starts, setup_cpu) for _ in range(SETUPS)]
        spark = run.spark
        # level-off: the first run of an op in a JVM costs 2-6x a later
        # one, and the CPU seconds of a pass keep falling over the next
        # passes as the JIT compiles the hot paths.  A fixed number of
        # warm passes, not a fixed time, so that a slow host does not
        # leave the JIT less far along
        t = time.perf_counter()
        workload.level_off(spark, random.Random(f"warm-{args.seed}"))
        rng = random.Random(args.seed)
        warm_ops, run.ops = run.ops, []
        run.layer = dict.fromkeys(run.layer, 0.0)
        phase["warmup"] = time.perf_counter() - t
        counters = None
        if args.trace:      # spans and counters of the timed passes only
            run.tracer = Tracer()
            counters = SparkCounters(spark)
        tracer = run.tracer

        sampler.start()
        passes: list[float] = []
        pass_cpu: list[float] = []      # without the JIT compiler threads
        pass_jit: list[float] = []
        t = time.perf_counter()
        t_end = t + args.seconds
        while (len(passes) < workload.min_passes
               or time.perf_counter() < t_end):
            run.groups = []
            t0, (c0, j0) = time.perf_counter(), tree_cpu_s(run.pid)
            with tracer.span("pass"):
                workload.run_pass(spark, len(passes), rng)
            passes.append(time.perf_counter() - t0)
            c1, j1 = tree_cpu_s(run.pid)
            pass_cpu.append((c1 - j1) - (c0 - j0))
            pass_jit.append(j1 - j0)
            if counters is not None:
                add_counters(run, counters.collect(run.groups), cores)
        peak_rss = sampler.stop()
        phase["passes"] = time.perf_counter() - t
        t = time.perf_counter()
        checked, wrong = workload.check(spark)
        phase["check"] = time.perf_counter() - t
        extra = workload.report()
        master = spark.sparkContext.master
        parallelism = spark.sparkContext.defaultParallelism
    finally:
        t = time.perf_counter()
        stop_processes(run)
        phase["stop"] = time.perf_counter() - t

    ops = warm_ops + run.ops
    failed = sum(not o["ok"] for o in ops) + wrong
    attempted = len(ops) + checked
    queries = [o["wall"] for o in run.ops if o["kind"] == "query" and o["ok"]]
    query_cpu = [o["cpu"] for o in run.ops if o["kind"] == "query" and o["ok"]]
    op_walls: dict[str, list[float]] = {}
    op_cpu: dict[str, list[float]] = {}
    for o in run.ops:
        op_walls.setdefault(o["name"], []).append(round(o["wall"], 4))
        op_cpu.setdefault(o["name"], []).append(round(o["cpu"], 2))
    e2e = {"setup_s": statistics.median(setup_cpu),
           "pass_cpu_s": median_pass(run.ops, "cpu"),
           "peak_rss_mb": peak_rss}
    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "master": master,
            "parallelism": parallelism, "cores": cores,
            "pyspark": pyspark.__version__, "passes": len(passes),
            "pass_walls_s": passes, "pass_cpu_s": pass_cpu,
            "pass_jit_s": pass_jit,
            "setup_walls_s": setups, "setup_cpu_s": setup_cpu,
            "session_start_s": starts, "phase_s": phase, "inputs": inputs,
            "op_walls_s": op_walls, "op_cpu_s": op_cpu,
            "ops_attempted": attempted, "ops_failed": failed,
            "errors": run.errors, "query_samples": len(queries),
            "query_tail": tail(queries, "query")}
    info.update(extra)
    # end-to-end figures the JSON line does not carry: the wall forms, the
    # lake_ingest-only ones, and those that spread too far or can read 0
    lines = {"setup_wall_s": (statistics.median(setups), "s"),
             "pass_s": (median_pass(run.ops, "wall"), "s"),
             "query_p50_s": (statistics.median(queries), "s"),
             "query_cpu_p50_s": (statistics.median(query_cpu), "s"),
             "error_rate": (failed / attempted, "ratio")}
    if isinstance(info["query_tail"], dict):
        lines["query_tail_s"] = (info["query_tail"]["s"], "s")
    for k in ("write_p50_s", "write_tail_s", "write_amp", "space_amp"):
        if k in extra:
            lines[k] = (extra[k], "s" if k.endswith("_s") else "ratio")
    for e in run.errors:
        print(f"# error: {e.strip()}", file=sys.stderr)

    if args.trace:
        metrics = layer_metrics(run, tracer, passes, starts, info)
        spans = os.path.join(WORK, "spans",
                             f"{args.workload}-seed{args.seed}.json")
        tracer.dump(spans)
        info["spans"] = os.path.relpath(spans, ROOT)
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}

    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    for k, (v, u) in lines.items():
        print(f"# {k} = {v:.6g} {u}")
    print("# info " + json.dumps(info, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_metrics(run: Run, tracer, passes: list[float], starts: list[float],
                  info: dict) -> dict:
    """Per-pass per-layer figures of the traced run; self times per span
    name also go into ``info``."""
    n = len(passes)
    L = {k: v / n for k, v in run.layer.items()}
    for k in ("exec.core_util", "storage.cached_peak_mb",
              "storage.leaked_rdds"):
        L[k] = run.layer[k]
    L["session.start_s"] = statistics.median(starts)
    L["trace.pass_s"] = statistics.median(passes)
    L["jvm.jit_s"] = statistics.median(info["pass_jit_s"])
    selfs = {k: v / n for k, v in tracer.self_times().items()}
    pass_s = sum(passes) / n
    for name, key in SELF_PCT.items():
        L[key] = 100.0 * selfs.get(name, 0.0) / pass_s
    L["storage.release_s"] = selfs.get("storage.release", 0.0)
    for phase in ("analysis", "optimization", "planning"):
        L[f"catalyst.{phase}_s"] = selfs.get(f"catalyst.{phase}", 0.0)
    run_s = run.layer["exec.run_s"]
    L["exec.gc_pct"] = 100.0 * run.layer["exec.gc_s"] / run_s if run_s else 0.0
    L["python.eval_pct"] = (100.0 * run.layer["python.eval_s"] / run_s
                            if run_s else 0.0)
    info["self_s_per_pass"] = selfs
    info["layer_s_per_pass"] = {k: run.layer[k] / n for k in RAW}
    return {k: {"value": L[k], "unit": u} for k, u in PER_LAYER.items()}


def add_counters(run: Run, c: dict, cores: int) -> None:
    """Fold one pass's Spark counters into the per-layer totals."""
    L = run.layer
    for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
              "output_mb"):
        L[f"exec.{k}"] += c[k]
    py = c["python"]
    L["python.tasks"] += py["tasks"]
    L["python.bytes_to_worker_mb"] += py["to_mb"]
    L["python.bytes_from_worker_mb"] += py["from_mb"]
    L["python.eval_s"] += py["eval_s"]
    L["python.start_s"] += py["start_s"]
    run.tracer.attach_jobs(c["job_spans"])
    # per op: wall minus the union of its job spans; jobs submitted before
    # the op's action (eager fills inside the plan builder) are counted
    by_op: dict[str, list] = {}
    for j in c["job_spans"]:
        by_op.setdefault(j["op"], []).append(j)
    from probes import persistent_rdds, union_length
    op_spans = {s[3]: s for s in run.tracer.spans if s[2] == "op"}
    actions = {s[3]: s for s in run.tracer.spans if s[2] == "driver.action"}
    for g in run.groups:
        s = op_spans.get(g)
        if s is None:
            continue
        jobs = by_op.get(g, [])
        job_union = union_length([(max(j["t0"], s[4]), min(j["t1"], s[5]))
                                  for j in jobs])
        L["exec.job_s"] += job_union
        L["driver.gap_s"] += (s[5] - s[4]) - job_union
        if g in actions:
            L["plans.eager_jobs"] += sum(j["t0"] < actions[g][4]
                                         for j in jobs)
        run.op_core_s += (s[5] - s[4]) * cores
    # executor time over the core time the ops held, all passes so far
    run.exec_run_s += c["run_s"]
    L["exec.core_util"] = (run.exec_run_s / run.op_core_s
                           if run.op_core_s else 0.0)
    L["storage.leaked_rdds"] = max(L["storage.leaked_rdds"],
                                   persistent_rdds(run.spark))


if __name__ == "__main__":
    sys.exit(main())
