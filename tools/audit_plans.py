"""Physical-plan audit: for every (or selected) catalog query, summarize the
executed plan — join strategies, exchange count, parquet pushdown — so the
scale claims in SCALE.md are reproducible, not anecdotal.

Usage: python tools/audit_plans.py [sf_dir] [query ...]   (default: bench set)
Writes a markdown table to stdout; exit code 1 if any bench query plans a
CartesianProduct or a BroadcastNestedLoopJoin (the two "you didn't mean
this at scale" strategies) without an allowlist entry.
"""

from __future__ import annotations

import os
import re
import sys

try:
    import nfl_data_engineering_spark  # noqa: F401 — installed?
except ImportError:  # not pip-installed: tools/ is sys.path[0], not the repo
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# all-pairs baselines intentionally cross-join at test scale; their scale
# path is the LSH/IVF twin in the same module
ALLOW_NESTED_LOOP = {"cosine_neardup_pairs", "embedding_topk", "ann_ivf_topk",
                     "clicks_before_purchase", "fuzzy_editdist",
                     # bounded-broadcast cross joins, not data-x-data plans:
                     # kmeans broadcasts the K=8-row centroid table per
                     # assignment pass; pmi broadcasts two 1-row corpus
                     # totals — both O(n) in the fact side at any scale
                     "kmeans_embeddings", "pmi_collocations",
                     # 1-row broadcast frames by construction: the A/B
                     # readout crosses two 1-row variant aggregates; the
                     # percentile-cutoff twins cross the per-customer
                     # aggregate with ONE broadcast cutoff row; the PQ
                     # recall audit's exact side broadcasts the bounded
                     # N_QUERIES query set (the guarded brute baseline)
                     "ab_test_report", "spend_quartiles_cutoffs",
                     "rfm_segmentation_cutoffs", "pq_recall_audit",
                     # triangle_count crosses three 1-row count aggregates
                     # into the summary row; the two minhash recall audits
                     # (0.8-constant and 0.5-derived band configs) cross
                     # two 1-row counts (exact vs lsh) for the ppm ratio
                     "triangle_count", "minhash_recall_audit",
                     "minhash_recall_t05",
                     # 1-row exact-vs-estimate cross for the ppm ratio
                     "join_size_estimate",
                     # same bounded scaffolds: the containment audit crosses
                     # two 1-row counts (truth vs route) for the ppm ratio; the
                     # perplexity filter crosses per-doc stats with 1-row
                     # corpus totals for the integer avg_doc <= avg_corpus gate
                     # (the EM loop it shares with train/apply plans those
                     # totals as broadcast hash joins, so only this entry needs
                     # the allowlist)
                     "containment_recall_audit", "unigram_perplexity_filter"}

JOIN_RE = re.compile(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                     r"BroadcastNestedLoopJoin|CartesianProduct)")


def summarize(plan: str) -> dict:
    joins = JOIN_RE.findall(plan)
    return {
        "joins": ",".join(
            f"{j.replace('Join', '').replace('Broadcast', 'B').replace('SortMerge', 'SM').replace('Shuffled', 'Sh').replace('NestedLoop', 'NL')}x{joins.count(j)}"
            for j in sorted(set(joins))) or "-",
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "pushed": "y" if "PushedFilters: [" in plan
                  and "PushedFilters: []" not in plan else "-",
        # codegen spans show as "*(n) Operator" prefixes in the plan string
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "bad": bool(re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan)),
    }


def audit(spark, sf_dir: str, qs) -> tuple[list[dict], list[str]]:
    """Execute each query and summarize its FINAL AQE plan. Returns
    (rows, failed) where rows carry the markdown-table fields and failed
    lists queries planning an un-allowlisted cartesian / nested-loop
    join. Entries return lazy plans (their caches are pinned with
    storage.pin, which submits no job), so the audit sees the real
    join/exchange structure; what each entry pins is released once its
    plan is read."""
    from nfl_data_engineering_spark.plans.base import release_deferred

    rows, failed = [], []
    for q in qs:
        try:
            df = q.spark(spark, sf_dir)
            # collect() (not a separate write, which clones the execution)
            # so THIS QueryExecution's AQE plan finalizes before reading it
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # finalized AQE string contains Final AND Initial plan sections;
            # audit only the final one
            plan = plan.split("== Initial Plan ==")[0]
        except Exception as e:  # streaming entries have no batch plan
            rows.append({"name": q.name, "error": type(e).__name__})
            continue
        finally:
            release_deferred()
        s = summarize(plan)
        s["name"] = q.name
        s["flagged"] = s["bad"] and q.name not in ALLOW_NESTED_LOOP
        if s["flagged"]:
            failed.append(q.name)
        rows.append(s)
    return rows, failed


def main() -> None:
    from nfl_data_engineering_spark.plans.registry import CATALOG
    from nfl_data_engineering_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = set(args[1:] if args and os.path.isdir(args[0]) else args)
    qs = [q for q in CATALOG if (q.name in names if names else q.bench)]

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows, failed = audit(spark, sf_dir, qs)
    print(f"| query | joins | exchanges | parquet pushdown | codegen stages |")
    print(f"|---|---|---|---|---|")
    for s in rows:
        if "error" in s:
            print(f"| {s['name']} | (no batch plan: {s['error']}) | | | |")
            continue
        flag = " ⚠" if s["flagged"] else ""
        print(f"| {s['name']}{flag} | {s['joins']} | {s['exchanges']} "
              f"| {s['pushed']} | {s['codegen']} |")
    spark.stop()
    if failed:
        print(f"\nunexpected cartesian/nested-loop plans: {failed}",
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
