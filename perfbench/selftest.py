"""Self-test of the benchmark on small inputs.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, with the catalog
tables at sf0.001, and checks that each run exits 0, prints every
BENCHMARK.json metric of its mode by name and unit (as a ``# name = value
unit`` line and in the closing JSON object, and nothing else there),
prints the workload-only end-to-end figures or the reason one is missing,
and checks outputs without a failure.  It then runs the benchmark in a
directory that holds only BENCHMARK.json and perfbench/, where it must
exit non-zero without printing a result.  Exits 1 on the first problem.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL_SF = 0.001

# the run at SMALL_SF: run.py's own main with the catalog scale replaced
RUNNER = """
import sys
sys.path.insert(0, {here!r})
import run
for name, (_sf, ops) in run.CATALOG_WORKLOADS.items():
    run.CATALOG_WORKLOADS[name] = ({sf!r}, ops)
sys.exit(run.main(sys.argv[1:]))
"""

# end-to-end figures the JSON line does not carry, printed as lines (the
# tails are checked in the info line, reported or explained)
COMMON_LINES = ["setup_wall_s", "pass_s", "query_p50_s", "query_cpu_p50_s",
                "error_rate"]
TEXT_LINES = {"catalog": COMMON_LINES,
              "lake_ingest": COMMON_LINES + ["write_p50_s", "write_amp",
                                             "space_amp"]}


def fail(msg: str) -> None:
    print(f"selftest: FAIL: {msg}")
    sys.exit(1)


def check_run(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, "-c", RUNNER.format(here=HERE, sf=SMALL_SF),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    tag = f"{workload} --trace {trace}"
    if p.returncode != 0:
        fail(f"{tag} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{tag}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        fail(f"{tag}: outputs wrong: {result}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"{tag}: metrics {got} != BENCHMARK.json {want}")
    printed = dict(re.findall(r"^# (\S+) = \S+ (\S+)$", p.stdout, re.M))
    for name, unit in want.items():
        if printed.get(name) != unit:
            fail(f"{tag}: no '# {name} = <value> {unit}' line")
    for name in TEXT_LINES[workload]:
        if name not in printed:
            fail(f"{tag}: no '# {name} = ...' line")
    info = json.loads(next(x for x in lines if x.startswith("# info "))[7:])
    tails = ["query_tail"] + (["write_tail"] if workload == "lake_ingest"
                              else [])
    for t in tails:
        if not (isinstance(info.get(t), dict)
                or str(info.get(t)).startswith("not reported: ")):
            fail(f"{tag}: {t} neither reported nor explained")
    for k in ("master", "parallelism", "cores", "pyspark"):
        if k not in info:
            fail(f"{tag}: info has no {k}")
    if trace and not os.path.exists(os.path.join(ROOT, info["spans"])):
        fail(f"{tag}: no spans file")
    print(f"selftest: ok {tag}: {len(want)} metrics")


def check_bare_dir() -> None:
    """Only BENCHMARK.json and perfbench/: exit non-zero, print nothing
    that looks like a result."""
    with tempfile.TemporaryDirectory(
            dir=os.path.join(ROOT, ".perfbench", "tmp")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "catalog", "--seed", "1", "--seconds", "1"],
                           cwd=d, capture_output=True, text=True, timeout=180)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        fail(f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")
    print(f"selftest: ok bare directory exits {p.returncode}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench", "tmp"), exist_ok=True)
    check_bare_dir()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(w["name"], trace, spec)
    print("selftest: all ok")


if __name__ == "__main__":
    main()
