"""Dump ``explain('formatted')`` output per catalog query to a directory —
before/after plan evidence for a plan change (diff the two suffixes).

Usage: python tools/dump_plans.py <out_dir> <suffix> [sf_dir] [query ...]
       (default sf_dir /root/testdata/sf0.1; default query set = bench set)

Writes ``<out_dir>/<query>_<suffix>.txt``. Entries return lazy plans,
so the dump shows the real join/exchange structure. The dump is the
INITIAL plan (AdaptiveSparkPlan isFinalPlan=false) — the plan shape an
optimizer change is judged by; AQE runtime rewrites are captured by
tools/audit_plans.py, which executes the query.
"""

from __future__ import annotations

import os
import sys

try:
    import nfl_data_engineering_spark  # noqa: F401 — installed?
except ImportError:  # not pip-installed: tools/ is sys.path[0], not the repo
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from nfl_data_engineering_spark.plans.base import release_deferred
    from nfl_data_engineering_spark.plans.registry import CATALOG
    from nfl_data_engineering_spark.session import get_spark

    if len(sys.argv) < 3:
        raise SystemExit("usage: dump_plans.py <out_dir> <suffix> "
                         "[sf_dir] [query ...]")
    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = rest[0] if rest and os.path.isdir(rest[0]) \
        else "/root/testdata/sf0.1"
    names = set(rest[1:] if rest and os.path.isdir(rest[0]) else rest)
    qs = [q for q in CATALOG if (q.name in names if names else q.bench)]
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for q in qs:
        path = os.path.join(out_dir, f"{q.name}_{suffix}.txt")
        try:
            df = q.spark(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # streaming entries have no batch plan
            plan = f"(no batch plan: {type(e).__name__}: {e})\n"
        release_deferred()
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
