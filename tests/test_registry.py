"""Registry-surface invariants: the _PRIORITY rotation re-aims the
driver's prefix check window; these asserts make a rotation
typo (dropped/duplicated/renamed entry) fail fast instead of silently
shrinking the verified surface."""

from nfl_data_engineering_spark.plans.connectors import CONNECTOR_QUERIES
from nfl_data_engineering_spark.plans.lakeops import LAKEOPS_QUERIES
from nfl_data_engineering_spark.plans.registry import (CATALOG, _PRIORITY,
                                                       oracle_sql, queries)
from nfl_data_engineering_spark.plans.relational import RELATIONAL_QUERIES
from nfl_data_engineering_spark.plans.similarity_api import API_QUERIES
from nfl_data_engineering_spark.plans.textops import TEXT_QUERIES
from nfl_data_engineering_spark.plans.training import TRAINING_QUERIES
from nfl_data_engineering_spark.plans.vector import VECTOR_QUERIES

_MODULE_NAMES = {q.name for qs in (RELATIONAL_QUERIES, TEXT_QUERIES,
                                   VECTOR_QUERIES, TRAINING_QUERIES,
                                   CONNECTOR_QUERIES, LAKEOPS_QUERIES,
                                   API_QUERIES)
                 for q in qs}


def test_rotation_preserves_full_catalog():
    # the sort may only REORDER: queries() must expose exactly the union
    # of every plan module's entries, no matter how _PRIORITY is aimed
    assert set(queries()) == _MODULE_NAMES
    assert len(CATALOG) == len(_MODULE_NAMES)


def test_priority_has_no_duplicates_or_stale_names():
    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate in _PRIORITY"
    assert not set(_PRIORITY) - _MODULE_NAMES, "stale name in _PRIORITY"


def test_every_entry_has_an_oracle():
    # a no-oracle entry reads as red in the driver's correctness file
    missing = set(queries()) - set(oracle_sql())
    assert not missing, f"entries without oracle_sql: {sorted(missing)}"


def test_oracles_are_nonempty_sql():
    for name, sql in oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_catalog_prefix_follows_priority_order():
    names = [q.name for q in CATALOG]
    assert names[:len(_PRIORITY)] == _PRIORITY


# Pinned bench set: run-to-run comparability requires the same queries
# in every run. Adding a query is a deliberate act (update this
# list in the same commit); losing one silently is a bug this catches.
_BENCH_SET = {
    "asof_join", "best_snapshot", "big_order_customers",
    "bloom_prefilter_audit", "contamination_check", "cosine_neardup_lsh",
    "dedup_keep_latest", "dedup_minhash_lsh", "dedup_simhash",
    "embedding_topk", "exp_weighted_value", "filter_pushdown",
    "forecast_revenue", "heavy_hitters_cms", "hourly_interpolate",
    "late_shipment_audit", "mad_outliers", "odds_python_source",
    "pivot_wide", "pricing_summary", "promo_revenue_share",
    "region_volume", "rollup_revenue", "segment_dedup",
    "shipping_priority", "streaming_daily_rollup", "tfidf_top_terms",
    "trimmed_mean", "upsert_roundtrip", "vocab_topk", "weekly_rollup",
    # iterative clustering + lakeops scale patterns: deliberate
    # extensions of the pin — the original 31 stay untouched so
    # run-to-run comparisons on the common set remain valid
    "kmeans_embeddings",
    "skew_join_salted", "interval_incident_join", "last_touch_attribution",
    "ks_drift",
    # the two heaviest catalog deliverables (flagship corpus dedup + PQ
    # ANN) pinned so their scaling is tracked run to run
    "dedup_star_survivors", "ann_pq_topk",
    # the exact prefix-filter similarity join and the degree-oriented
    # triangle count — two algorithm families whose scaling is tracked
    "prefix_filter_join", "triangle_count",
    # the plan-asserted Q8-style star join
    "market_share",
    # the two steady-state 100 TB shapes of the dedup/decontamination families
    # — regressions here are the costliest to discover late
    "incremental_corpus_dedup", "semantic_contamination",
    # two more steady-state 100 TB shapes — the similarity-join front
    # door (all four families in one entry) and the cluster-keyed split
    "similarity_join_api", "leakage_safe_split",
    # the OPH sketch kernel (64x cheaper hashing than the k-draw MinHash
    # pass) — pinned next to dedup_minhash_lsh so the two sketch
    # families' costs stay comparable run to run
    "dedup_minhash_oph",
}


def test_bench_set_is_pinned():
    from nfl_data_engineering_spark.plans.registry import bench_queries
    assert {q.name for q in bench_queries()} == _BENCH_SET
