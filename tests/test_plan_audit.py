"""The physical-plan gate, in CI: every bench-set query must plan without
an un-allowlisted CartesianProduct / BroadcastNestedLoopJoin (the two
"you didn't mean this at scale" strategies). tools/audit_plans.py
enforces this by hand; this test makes a cartesian plan turn the suite
red."""

from __future__ import annotations

import os
import sys

# tools/ is not an installed package: on a dev box with the package
# pip-installed, conftest's conditional insert never fires and this import
# would error under bare pytest — insert the repo root unconditionally.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.audit_plans import audit  # noqa: E402


def test_bench_set_plans_no_cartesian(spark, sf_dir):
    from nfl_data_engineering_spark.plans.registry import bench_queries

    qs = bench_queries()
    assert len(qs) >= 40, "bench set unexpectedly shrank"
    rows, failed = audit(spark, sf_dir, qs)
    assert not failed, (
        f"un-allowlisted cartesian/nested-loop plans: {failed} — either "
        f"fix the plan or (for a bounded-broadcast baseline) add an "
        f"ALLOW_NESTED_LOOP entry in tools/audit_plans.py with a comment "
        f"saying why it is bounded")
    # every non-streaming bench query must actually have been audited
    audited = {r["name"] for r in rows if "error" not in r}
    errored = {r["name"]: r["error"] for r in rows if "error" in r}
    assert not errored, f"bench queries failed to execute: {errored}"
    assert len(audited) == len(qs)
    # entries return lazy plans, so the audit reads the real joins rather
    # than a scan of a materialized result
    joins = {r["name"]: r["joins"] for r in rows if "error" not in r}
    assert joins["similarity_join_api"] != "-"
