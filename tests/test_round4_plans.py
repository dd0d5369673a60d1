"""Semantic tests for catalog entries (beyond the DuckDB
parity gate): incremental-ingest dedup and the PQ recall audit."""

from __future__ import annotations

import os

import pyspark.sql.functions as F


from nfl_data_engineering_spark.plans.textops import (  # noqa: E402
    q_incremental_corpus_dedup)
from nfl_data_engineering_spark.plans.training import (  # noqa: E402
    q_corpus_filter, q_filter_funnel)
from nfl_data_engineering_spark.plans.vector import (  # noqa: E402
    N_QUERIES, TOPK, q_pq_recall_audit)

SF = "/root/testdata/sf0.001"


def test_incremental_dedup_verdicts_are_consistent(spark):
    rows = q_incremental_corpus_dedup(spark, SF).collect()
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_incoming = docs.filter(F.col("doc_id") % 4 == 0).count()
    assert len(rows) == n_incoming          # one verdict per incoming doc

    by_id = {r["doc_id"]: r for r in rows}
    assert all(d % 4 == 0 for d in by_id)   # incoming side only
    for r in rows:
        if r["status"] == "new":
            assert r["ref_doc_id"] == -1
        else:
            # refs point INTO the existing corpus, never at the batch
            assert r["ref_doc_id"] % 4 != 0
            assert r["ref_doc_id"] != r["doc_id"]

    # exact layer ground truth: incoming doc is exact_dup iff an existing
    # doc holds byte-identical text, and the ref is the MIN such doc
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    existing_by_text = {}
    for d, t in texts.items():
        if d % 4 != 0:
            existing_by_text.setdefault(t, []).append(d)
    for r in rows:
        matches = existing_by_text.get(texts[r["doc_id"]], [])
        if matches:
            assert r["status"] == "exact_dup"
            assert r["ref_doc_id"] == min(matches)
        else:
            assert r["status"] != "exact_dup"


def test_filter_funnel_is_a_consistent_pipeline(spark):
    rows = {r["stage"]: r for r in q_filter_funnel(spark, SF).collect()}
    order = ["exact_dedup", "lang_id", "quality_score", "repetition"]
    assert sorted(rows) == sorted(order)
    docs_n = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
              .count())
    assert rows[order[0]]["n_in"] == docs_n
    for a, b in zip(order, order[1:]):
        assert rows[a]["n_out"] == rows[b]["n_in"]     # stages chain
        assert rows[a]["n_in"] - rows[a]["n_dropped"] == rows[a]["n_out"]
    # the funnel's final survivors == the composed filter's verdict
    assert rows["repetition"]["n_out"] == q_corpus_filter(spark, SF).count()


def test_pq_recall_audit_shape_and_bounds(spark):
    rows = q_pq_recall_audit(spark, SF).collect()
    emb_ids = {r["vec_id"] for r in
               spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
               .select("vec_id").collect()}
    expect_q = {v for v in emb_ids if v < N_QUERIES}
    assert {r["q_id"] for r in rows} == expect_q
    for r in rows:
        assert r["k"] == TOPK
        assert 0 <= r["n_hits"] <= r["k"]
        assert r["recall_ppm"] == r["n_hits"] * 1_000_000 // r["k"]
    # the audit must be able to detect loss: PQ at 4 subspaces over label
    # cells is lossy, so perfect recall everywhere would mean the exact
    # side and the approximate side are accidentally the same query
    assert any(r["n_hits"] < r["k"] for r in rows) or len(rows) == 0


def test_bpe_encode_reconciles_with_merge_log(spark):
    """The encoder and the trainer run the same loop, so corpus-wide
    token shrinkage must equal the total merges the trainer logged:
    sum(n_base_tokens - n_tokens) == sum(n_merged) across steps."""
    from nfl_data_engineering_spark.plans.training import (
        q_bpe_encode, q_bpe_merge_train)
    enc = q_bpe_encode(spark, SF)
    shrink = (enc.agg(F.sum(F.col("n_base_tokens")
                            - F.col("n_tokens")).alias("s"))
              .collect()[0]["s"])
    merged = (q_bpe_merge_train(spark, SF)
              .agg(F.sum("n_merged").alias("s")).collect()[0]["s"])
    assert shrink == merged and merged > 0
    rows = enc.collect()
    assert all(0 < r["n_tokens"] <= r["n_base_tokens"] for r in rows)
    assert all(0 < r["compression_ppm"] <= 1_000_000 for r in rows)


def test_triangle_count_matches_naive_on_crafted_graph(spark):
    """Degree-oriented wedge enumeration on a crafted hub graph (one
    high-degree node in many triangles + a disconnected triangle + a
    triangle-free path) must equal the brute-force count over all node
    triples — including the hub case the orientation exists for."""
    from itertools import combinations

    from nfl_data_engineering_spark.plans import lakeops as lk
    # hub 0 connected to 1..6; ring among 1..6 gives hub triangles;
    # 10-11-12 is an isolated triangle; 20-21-22-23 a triangle-free path
    edges = ([(0, i) for i in range(1, 7)]
             + [(i, i + 1) for i in range(1, 6)] + [(1, 6)]
             + [(10, 11), (11, 12), (10, 12)]
             + [(20, 21), (21, 22), (22, 23)])
    # rebuild the entry's dataflow from an injected edge frame (the
    # catalog entry derives edges from lineitem; here we inject directly
    # by replaying its orientation + wedge + closing join stages)
    e = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "u long, v long")
    deg = (e.select(F.col("u").alias("node"))
           .unionAll(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d")))
    j = (e.join(deg.select(F.col("node").alias("u"),
                           F.col("d").alias("du")), "u")
         .join(deg.select(F.col("node").alias("v"),
                          F.col("d").alias("dv")), "v"))
    lo = ((F.col("du") < F.col("dv"))
          | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
    o = j.select(F.when(lo, F.col("u")).otherwise(F.col("v")).alias("src"),
                 F.when(lo, F.col("v")).otherwise(F.col("u")).alias("dst"),
                 F.when(lo, F.col("dv")).otherwise(F.col("du")).alias("ddst"))
    w1 = o.select("src", F.col("dst").alias("x"), F.col("ddst").alias("dx"))
    w2 = o.select("src", F.col("dst").alias("y"), F.col("ddst").alias("dy"))
    wedges = (w1.join(w2, "src")
              .filter((F.col("dx") < F.col("dy"))
                      | ((F.col("dx") == F.col("dy"))
                         & (F.col("x") < F.col("y"))))
              .select(F.col("x").alias("src"), F.col("y").alias("dst")))
    got = wedges.join(o.select("src", "dst"), ["src", "dst"],
                      "left_semi").count()
    es = {(min(a, b), max(a, b)) for a, b in edges}
    nodes = sorted({n for ab in es for n in ab})
    naive = sum(1 for a, b, c in combinations(nodes, 3)
                if (a, b) in es and (b, c) in es and (a, c) in es)
    assert got == naive and naive == 7  # 6 hub-ring + 1 isolated
    assert lk._TRI_MIN_SUPPORT >= 2     # the densification knob is on


def test_snapshot_diff_change_classes_are_exact(spark):
    """The h60 gates make every change class exactly enumerable from the
    source: added == |g==2|, deleted == |g==0|, updated == |g==1| with
    delta exactly +1000 cents per updated key."""
    from nfl_data_engineering_spark.functions.hashing import h60_py
    from nfl_data_engineering_spark.plans.connectors import q_snapshot_diff
    rows = {r["change_type"]: r for r in q_snapshot_diff(spark, SF).collect()}
    orders = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    gates = [h60_py(f"snapv_{k}") % 20
             for k in (r["o_orderkey"] for r in orders.collect())]
    n = {v: sum(1 for g in gates if g == v) for v in (0, 1, 2)}
    assert rows["deleted"]["n"] == n[0]
    assert rows["updated"]["n"] == n[1]
    assert rows["added"]["n"] == n[2]
    assert rows["updated"]["delta_cents"] == 1000 * n[1]
    assert rows["unchanged"]["delta_cents"] == 0
    total = sum(r["n"] for r in rows.values())
    assert total == len(gates) + n[2]   # base keys + cloned inserts


def test_streaming_left_outer_superset_of_inner(spark):
    """leftOuter output == inner matches + exactly one null-padded row
    per unmatched purchase; no purchase lost, none duplicated beyond its
    match multiplicity."""
    from nfl_data_engineering_spark.plans.training import (
        q_streaming_interval_join, q_streaming_left_outer_join)
    louter = q_streaming_left_outer_join(spark, SF).cache()
    inner = q_streaming_interval_join(spark, SF)
    assert louter.filter(F.col("click_event_id").isNotNull()).count() \
        == inner.count()
    purchases = (spark.read.parquet(os.path.join(SF, "events.parquet"))
                 .filter(F.col("event_type") == "purchase"))
    assert (louter.select("purchase_event_id").distinct().count()
            == purchases.count())
    unmatched = louter.filter(F.col("click_event_id").isNull())
    assert unmatched.count() == unmatched.select(
        "purchase_event_id").distinct().count()
    louter.unpersist()


def test_trailing_hll_estimate_tracks_exact(spark):
    """The merged-partials sliding estimate must behave like an HLL once
    the standard small-range correction is applied (the entry reports the
    RAW estimate + n_zero_regs per the distinct_hll family convention, so
    the consumer-side linear-counting swap happens here): within the
    1.04/sqrt(256) ~ 6.5% standard error at a generous 4-sigma band."""
    import math

    from nfl_data_engineering_spark.plans.lakeops import (
        q_trailing_unique_hll)
    from nfl_data_engineering_spark.plans.relational import HLL_M
    rows = q_trailing_unique_hll(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["exact_users"] > 0
        est = r["hll_estimate"]
        if r["n_zero_regs"] > 0 and est <= 2.5 * HLL_M:
            est = HLL_M * math.log(HLL_M / r["n_zero_regs"])
        rel = abs(est - r["exact_users"]) / r["exact_users"]
        assert rel < 0.26, (r["day_index"], est, r["exact_users"])


def test_join_size_estimate_is_upper_bound(spark):
    """CMS inner product never underestimates: min over d of the bucket
    dot products >= the exact join size, so over_ppm >= 0."""
    from nfl_data_engineering_spark.plans.lakeops import q_join_size_estimate
    r = q_join_size_estimate(spark, SF).collect()[0]
    assert r["exact_pairs"] > 0
    assert r["cms_estimate"] >= r["exact_pairs"]
    assert r["over_ppm"] >= 0


def test_skyline_frontier_is_undominated(spark):
    """No surviving point may be dominated by any other part (the
    quadratic spec, re-checked in python over the full part table)."""
    from nfl_data_engineering_spark.plans.relational import (
        q_skyline_frontier)
    sky = {(r["price_cents"], r["p_size"])
           for r in q_skyline_frontier(spark, SF).collect()}
    pts = [(int(round(r["p_retailprice"] * 100)), r["p_size"])
           for r in spark.read.parquet(
               os.path.join(SF, "part.parquet")).collect()]
    for pc, s in sky:
        assert not any(qc <= pc and qs >= s and (qc < pc or qs > s)
                       for qc, qs in pts), (pc, s)
    # and every undominated point is IN the frontier (completeness)
    for pc, s in pts:
        if not any(qc <= pc and qs >= s and (qc < pc or qs > s)
                   for qc, qs in pts):
            assert (pc, s) in sky
