"""Per-stage empirical profile of one catalog query: run the
query in isolation with a noop sink, then read the Spark UI REST API for
per-stage wall time, task time, shuffle read/write bytes and row counts —
the 'where is the time actually going' readout that aims an
optimization.

Usage: python tools/profile_query.py <query> [sf_dir] [--reps N]
       (default sf_dir /root/testdata/sf0.1, reps 2 — first run charges
       codegen/JIT, the profile reports the LAST run's stages)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

try:
    import nfl_data_engineering_spark  # noqa: F401 — installed?
except ImportError:
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from nfl_data_engineering_spark.plans.base import release_deferred
    from nfl_data_engineering_spark.plans.registry import CATALOG
    from nfl_data_engineering_spark.session import get_spark

    argv = sys.argv[1:]
    reps = 2
    args: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--reps":      # consume the flag AND its value so
            reps = int(argv[i + 1])  # the count can't leak into sf_dir
            i += 2
            continue
        if not argv[i].startswith("--"):
            args.append(argv[i])
        i += 1
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    q = next(qd for qd in CATALOG if qd.name == name)

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def run_once(tag: str) -> tuple[float, int]:
        release_deferred()
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        before = _max_stage_id(ui, app_id)
        spark.sparkContext.setJobDescription(f"{name} [{tag}]")
        t0 = time.time()
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        return wall, before

    def _max_stage_id(ui: str, app: str) -> int:
        try:
            data = json.load(urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete"))
            return max((s["stageId"] for s in data), default=-1)
        except Exception:
            return -1

    walls = []
    first_stage = -1
    for r in range(reps):
        wall, before = run_once(f"rep{r}")
        walls.append(wall)
        first_stage = before
    print(f"\n=== {name} @ {sf_dir}: walls {[f'{w:.2f}' for w in walls]} "
          f"(profiling last rep) ===")

    data = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"))
    stages = sorted((s for s in data if s["stageId"] > first_stage),
                    key=lambda s: -s.get("executorRunTime", 0))
    total_run = sum(s.get("executorRunTime", 0) for s in stages)
    print(f"{'stage':>6} {'taskTime':>9} {'%':>5} {'tasks':>6} "
          f"{'shufR MB':>9} {'shufW MB':>9} {'inRows':>10} {'outRows':>10}"
          f"  name")
    for s in stages[:25]:
        rt = s.get("executorRunTime", 0)
        print(f"{s['stageId']:>6} {rt/1000:>8.2f}s "
              f"{100*rt/max(total_run,1):>4.0f}% {s['numCompleteTasks']:>6} "
              f"{s.get('shuffleReadBytes',0)/1e6:>9.1f} "
              f"{s.get('shuffleWriteBytes',0)/1e6:>9.1f} "
              f"{s.get('inputRecords',0) or s.get('shuffleReadRecords',0):>10} "
              f"{s.get('outputRecords',0) or s.get('shuffleWriteRecords',0):>10}"
              f"  {s['name'].splitlines()[0][:60]}")
    print(f"total executorRunTime {total_run/1000:.2f}s across "
          f"{len(stages)} stages")
    spark.stop()


if __name__ == "__main__":
    main()
