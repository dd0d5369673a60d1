"""Oracle parity for every catalog entry routed through the shared
similarity kernels (functions/similarity.py: candidate join, exact
verifies, df-capped overlap) or checked by a shared oracle CTE function
(capped overlap, component replay, duplicate-window islands): each runs
at the smoke scale and must match its DuckDB oracle under the
driver-style dtype-strict comparison (parity.compare). The oracles are
independent SQL specs, so a match shows the kernels verify the same
truth for every caller."""

from __future__ import annotations

import pytest

from nfl_data_engineering_spark.parity import TABLES, compare
from nfl_data_engineering_spark.plans.base import release_deferred
from nfl_data_engineering_spark.plans.registry import oracle_sql, queries

ROUTED = [
    # minhash family
    "dedup_minhash_lsh", "dedup_components", "dedup_survivor_table",
    "dedup_quality_survivors", "minhash_recall_audit",
    # one-permutation hashing
    "dedup_minhash_oph", "oph_recall_audit",
    # prefix filter and simhash
    "prefix_filter_join", "dedup_simhash",
    # incremental and star
    "incremental_corpus_dedup", "dedup_star_survivors",
    "cross_shard_dedup_audit", "leakage_safe_split",
    # cosine
    "cosine_neardup_pairs", "cosine_neardup_lsh",
    "embedding_dedup_components", "lsh_recall_audit",
    "semantic_contamination",
    # similarity_join front door
    "similarity_join_api", "similarity_join_staged",
    "similarity_containment_api", "auto_route_oph_join",
    "minhash_recall_t05", "oph_recall_t05",
    # df-capped exact overlap and the containment direction gate
    "ngram_jaccard_pairs", "containment_join", "containment_sketch_join",
    "containment_recall_audit",
    # embedding components (the shared component-replay oracle CTEs)
    "semantic_dedup", "semantic_dedup_twolevel",
    # duplicate-window islands (the shared island oracle CTEs)
    "exact_substring_spans", "substring_dedup_rewrite",
]


@pytest.fixture(scope="module")
def oracle_frames(sf_dir):
    """Oracle results, computed on one background thread while Spark runs
    the entries (DuckDB releases the GIL), so the oracle side adds no
    wall time to the module."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sqls = oracle_sql()
    with ThreadPoolExecutor(max_workers=1) as pool:
        yield {n: pool.submit(lambda q=sqls[n]: con.execute(q).df())
               for n in ROUTED}
    con.close()


@pytest.mark.parametrize("name", ROUTED)
def test_routed_entry_matches_oracle(spark, sf_dir, oracle_frames, name):
    try:
        got = queries()[name](spark, sf_dir).toPandas()
    finally:
        release_deferred()
        spark.catalog.clearCache()
    assert compare(got, oracle_frames[name].result()) == []
