"""Measurement from outside the package: spans around the benchmark's own
calls, Spark's counters (status tracker, UI REST API, the Catalyst phase
tracker), and RSS and CPU time of the process tree read from ``/proc``.

Nothing here patches the engine.  ``Tracer`` records spans in memory and
the caller writes them out when the run ends; ``NullTracer`` has the same
interface and records nothing, so the untraced run pays for no spans.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

MB = 1024 * 1024


def tail(values: list[float], what: str):
    """The latency at the highest percentile that leaves at least ten
    samples beyond it, with that percentile; below 20 samples (where that
    percentile would fall under the 50th) the reason it is not reported."""
    n = len(values)
    if n < 20:
        return (f"not reported: {n} {what} samples, fewer than the 20 that "
                "leave ten beyond the 50th percentile")
    k = n - 10                      # ten samples lie beyond rank k
    return {"s": sorted(values)[k - 1], "percentile": 100.0 * k / n,
            "beyond": 10, "samples": n}


# ------------------------------------------------------------------ spans

class NullTracer:
    """Untraced run: op timing only."""

    traced = False

    @contextmanager
    def span(self, name: str):
        yield

    def job_group(self, spark, group: str) -> None:
        pass

    def catalyst(self, df) -> None:
        pass


class Tracer(NullTracer):
    """Spans with parent links, kept in memory.  A span is
    ``[id, parent, name, op, t0, t1]`` with epoch seconds, so Spark's job
    times (epoch ms) sit on the same clock."""

    traced = True

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [sid, parent, name, self.op, time.time(), None]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec[5] = time.time()

    def add(self, name: str, parent: int | None, t0: float, t1: float,
            op: str | None) -> None:
        self.spans.append([len(self.spans), parent, name, op, t0, t1])

    def job_group(self, spark, group: str) -> None:
        spark.sparkContext.setJobGroup(group, group)

    def catalyst(self, df) -> None:
        """Force the frame's own analysis, optimization and physical
        planning, then record the three phases from its tracker."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                p = phases.apply(phase)
                self.add(f"catalyst.{phase}", self._stack[-1] if self._stack
                         else None, p.startTimeMs() / 1e3, p.endTimeMs() / 1e3,
                         self.op)

    def attach_jobs(self, jobs: list[dict]) -> None:
        """Add one ``exec.job`` span per Spark job, under the innermost
        span of its op that was open when the job was submitted."""
        by_op: dict[str, list[list]] = {}
        for s in self.spans:
            if s[3] is not None and s[5] is not None:
                by_op.setdefault(s[3], []).append(s)
        for j in jobs:
            cands = [s for s in by_op.get(j["op"], ())
                     if s[4] <= j["t0"] <= s[5] and not s[2].startswith(
                         ("catalyst.", "exec."))]
            parent = (max(cands, key=lambda s: s[4])[0] if cands else None)
            self.add("exec.job", parent, j["t0"], j["t1"], j["op"])

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the union of its
        children's intervals clipped to it."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[1] is not None:
                kids.setdefault(s[1], []).append((s[4], s[5]))
        out: dict[str, float] = {}
        for s in self.spans:
            t0, t1 = s[4], s[5]
            covered = union_length([(max(a, t0), min(b, t1))
                                    for a, b in kids.get(s[0], ())])
            out[s[2]] = out.get(s[2], 0.0) + (t1 - t0) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"fields": ["id", "parent", "name", "op", "t0", "t1"],
                       "spans": self.spans}, f)


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# --------------------------------------------------------- Spark counters

def _epoch(ts: str) -> float:
    # the REST API renders times as 2026-01-01T00:00:00.123GMT
    return dt.datetime.strptime(ts.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _size_mb(text: str) -> float:
    """First size in a SQL metric value ("1.5 MiB", or a
    "total (min, med, max)" block whose first figure is the total)."""
    units = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB}
    for line in text.splitlines():
        parts = line.replace("(", " ").split()
        for a, b in zip(parts, parts[1:]):
            if b in units:
                try:
                    return float(a.replace(",", "")) * units[b] / MB
                except ValueError:
                    continue
    return 0.0


class SparkCounters:
    """Job, stage and SQL-execution data of the jobs the benchmark's job
    groups own, read from the UI REST API once the listener has caught up."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, groups: list[str]) -> dict:
        """Counters for every job in ``groups``; job records carry the op
        (the group name) and epoch span for the tracer."""
        ids = {j: g for g in groups
               for j in self.tracker.getJobIdsForGroup(g)}
        deadline = time.time() + 30
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in ids]
            if (len(jobs) == len(ids)
                    and all(j["status"] != "RUNNING" and "completionTime" in j
                            for j in jobs)) or time.time() > deadline:
                break
            time.sleep(0.1)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] in stage_ids]
        c = {"jobs": len(jobs), "stages": len(stages),
             "tasks": sum(s["numCompleteTasks"] for s in stages),
             "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
             "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
             "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
             "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
             "shuffle_write_mb": sum(s["shuffleWriteBytes"]
                                     for s in stages) / MB,
             "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
             "input_mb": sum(s["inputBytes"] for s in stages) / MB,
             "output_mb": sum(s["outputBytes"] for s in stages) / MB}
        job_tasks = {j["jobId"]: j["numCompletedTasks"] for j in jobs}
        # plan nodes that run Python on workers (pandas/Arrow UDFs, the
        # Python data source) are the ones carrying Python-worker metrics
        py = {"tasks": 0, "to_mb": 0.0, "from_mb": 0.0, "eval_s": 0.0,
              "start_s": 0.0}
        for ex in self._get("/sql?details=true&planDescription=false"
                            "&offset=0&length=100000"):
            ex_jobs = [j for j in ex.get("successJobIds", []) if j in ids]
            metrics = [(m["name"], m["value"]) for n in ex.get("nodes", [])
                       for m in n.get("metrics", [])
                       if "Python workers" in m["name"]]
            if not ex_jobs or not metrics:
                continue
            py["tasks"] += sum(job_tasks.get(j, 0) for j in ex_jobs)
            for name, value in metrics:
                if name == "data sent to Python workers":
                    py["to_mb"] += _size_mb(value)
                elif name == "data returned from Python workers":
                    py["from_mb"] += _size_mb(value)
                elif name == "time to run Python workers":
                    py["eval_s"] += _duration_s(value)
                elif name in ("time to start Python workers",
                              "time to initialize Python workers"):
                    py["start_s"] += _duration_s(value)
        c["python"] = py
        c["job_spans"] = [{"op": ids[j["jobId"]],
                           "t0": _epoch(j["submissionTime"]),
                           "t1": _epoch(j["completionTime"])}
                          for j in jobs if "completionTime" in j]
        return c


def _duration_s(text: str) -> float:
    units = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
    for line in text.splitlines():
        parts = line.replace("(", " ").split()
        for a, b in zip(parts, parts[1:]):
            if b in units:
                try:
                    return float(a.replace(",", "")) * units[b]
                except ValueError:
                    continue
    return 0.0


def storage_mb(spark) -> float:
    """Bytes the block manager holds for cached/checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# ------------------------------------------------------------------- memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / MB


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds (user + system, with reaped children) of this process
    and all its descendants, and the part of them the JVM's JIT compiler
    threads spent."""
    tick = os.sysconf("SC_CLK_TCK")
    total = jit = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1:].startswith(JIT_THREADS):
                jit += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return total / tick, jit / tick


class RssSampler:
    """One thread sampling the RSS summed over this process and all its
    descendants (driver Python, the JVM, Python workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval):
            rss = tree_rss_mb(root)
            with self._lock:
                self.peak = max(self.peak, rss)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        with self._lock:
            return self.peak
