"""Unified query registry consumed by __spark_entry__.py, bench.py, tests."""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .base import QueryDef, release_deferred
from .connectors import CONNECTOR_QUERIES
from .lakeops import LAKEOPS_QUERIES
from .relational import RELATIONAL_QUERIES
from .similarity_api import API_QUERIES
from .textops import TEXT_QUERIES
from .training import TRAINING_QUERIES
from .vector import VECTOR_QUERIES

_ALL: list[QueryDef] = [*RELATIONAL_QUERIES, *TEXT_QUERIES,
                        *VECTOR_QUERIES, *TRAINING_QUERIES,
                        *CONNECTOR_QUERIES, *LAKEOPS_QUERIES,
                        *API_QUERIES]

# Verification-priority order. The external correctness gate checks a
# prefix window of the catalog (50 entries/round), so rotation aims each
# round's window at the entries with the most verification value.
#
# Round 13 window (50) — the staging the round-12 registry documented:
# (a) the r7-vintage tail displaced below the round-12 window by that
#     round's never-attested additions (newest attestation r7;
#     reproducible by folding hash_match over CORRECTNESS_r*.json);
# (b) the r8-vintage cohort (50 entries, newest attestation r8) in name
#     order — the first 45 fit this round's 50 slots; the remaining 5
#     (trailing_median, train_test_split, unigram_logprob, vocab_topk,
#     zscore_groups) lead the round-14 staging, then the r9 cohort.
# Names absent from this list keep catalog order after it.
_PRIORITY: list[str] = [
    # --- (a) r7-vintage tail (oldest attestation in the catalog) ---
    "trimmed_mean", "unpivot_metrics", "user_event_sequences",
    "winsorized_stats", "xlsx_roundtrip",
    # --- (b) the r8-vintage cohort, name order (tail -> round 14) ---
    "ann_pq_topk", "asof_tolerance", "behavior_set_overlap",
    "bigram_topk", "bloom_prefilter_audit", "box_scores_schedule",
    "bpe_merge_train", "brand_max_price", "cohort_retention",
    "corpus_filter", "corrupt_record_audit", "dedup_minhash_lsh",
    "doc_chunking", "domain_topk", "dormant_high_balance",
    "event_cooccurrence", "event_transition_matrix",
    "first_digit_profile", "forecast_revenue", "full_outer_reconcile",
    "funnel_stages", "heavy_hitters_cms", "incremental_agg_merge",
    "incremental_corpus_dedup", "inverted_index", "key_skew_profile",
    "kfold_assignment", "late_shipment_audit", "mad_outliers",
    "minmax_scale", "monthly_rank_report", "promo_revenue_share",
    "referential_integrity_audit", "rename_normalize",
    "returned_item_customers", "revenue_gini", "segment_dedup",
    "semantic_dedup", "sequence_packing", "shard_balance",
    "source_mixture", "stratified_sample", "temperature_mixing",
    "tfidf_top_terms", "top_supplier",
    # slot 50 boundary falls inside the r8 cohort: the five names after
    # top_supplier in name order (trailing_median, train_test_split,
    # unigram_logprob, vocab_topk, zscore_groups) rotate to r14
]

assert not set(_PRIORITY) - {q.name for q in _ALL}, \
    "stale names in _PRIORITY (renamed/removed catalog entries)"

_PRIO_IDX = {n: i for i, n in enumerate(_PRIORITY)}
CATALOG: list[QueryDef] = sorted(
    _ALL, key=lambda q: (_PRIO_IDX.get(q.name, len(_PRIORITY)),
                         _ALL.index(q)))

_BY_NAME = {q.name: q for q in CATALOG}
assert len(_BY_NAME) == len(CATALOG), "duplicate query names in catalog"


def _drained(fn: Callable[[SparkSession, str], DataFrame]
             ) -> Callable[[SparkSession, str], DataFrame]:
    """``fn`` preceded by release_deferred(): a runner that never drains
    the ledger still frees what the previous entry pinned when the next
    one starts."""
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_deferred()
        return fn(spark, sf_dir)
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: _drained(q.spark) for q in CATALOG}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in CATALOG if q.oracle is not None}


def bench_queries() -> list[QueryDef]:
    return [q for q in CATALOG if q.bench]
