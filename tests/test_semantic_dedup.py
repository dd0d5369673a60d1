"""semantic_dedup (plans/vector.py): SemDeDup-style cluster-scoped
embedding dedup. Invariants: the survivor table covers the corpus
one-row-per-vector, canonical ids are component minima (never above the
member id), linked groups never span clusters (pairs are within-cluster
by construction — the paper's tractability trade), and the near-dup test
corpus must yield real multi-member groups."""

from __future__ import annotations

from pyspark.sql import functions as F

from nfl_data_engineering_spark.plans.base import load
from nfl_data_engineering_spark.plans.registry import _BY_NAME


def test_semantic_dedup_invariants(spark, sf_dir):
    out = _BY_NAME["semantic_dedup"].spark(spark, sf_dir).cache()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert out.count() == n_vecs
    assert out.filter(F.col("canonical_vec_id") > F.col("vec_id")).count() == 0
    assert out.filter(
        (F.col("is_survivor") == 1)
        != (F.col("canonical_vec_id") == F.col("vec_id"))).count() == 0
    # a canonical id IS a member: its own row must be a survivor in the
    # SAME cluster (components cannot span clusters)
    canon_rows = out.select(F.col("vec_id").alias("canonical_vec_id"),
                            F.col("cluster").alias("canon_cluster"),
                            F.col("is_survivor").alias("canon_surv"))
    joined = out.join(canon_rows, "canonical_vec_id")
    assert joined.count() == n_vecs
    assert joined.filter(F.col("canon_surv") != 1).count() == 0
    assert joined.filter(F.col("cluster") != F.col("canon_cluster")).count() == 0
    # the testdata corpus has embedding near-dups (same gate as the SRP
    # family) — a semantic dedup that drops nothing is broken
    assert out.filter(F.col("is_survivor") == 0).count() > 0
    out.unpersist()


def test_semdedup_k_derivation_and_cap():
    """K grows with corpus size (ceil(n/2500), floored at the report
    entry's 8). Past the centroid-budget gate the derivation no longer
    raises — q_semantic_dedup dispatches to the two-level path — but
    the COARSE level still fails loudly where
    even sqrt(K) exceeds the gate (a third level is not built)."""
    import pytest

    from nfl_data_engineering_spark.plans.vector import (
        SEMDEDUP_MAX_K, _semdedup_coarse_k, _semdedup_k)
    assert _semdedup_k(0) == 8
    assert _semdedup_k(20_000) == 8          # test-SF scale: unchanged
    assert _semdedup_k(2_501) == 8
    assert _semdedup_k(25_000) == 10
    assert _semdedup_k(100_000_000) == 40_000   # the paper's regime
    assert _semdedup_k(2500 * SEMDEDUP_MAX_K) == SEMDEDUP_MAX_K  # boundary
    # past the gate: derivation returns, the coarse split stays tiny
    k_big = _semdedup_k(2500 * SEMDEDUP_MAX_K + 1)
    assert k_big == SEMDEDUP_MAX_K + 1
    assert _semdedup_coarse_k(k_big) == 708      # ceil(sqrt(500001))
    assert _semdedup_coarse_k(9) == 3
    assert _semdedup_coarse_k(10) == 4           # ceil, not floor
    with pytest.raises(ValueError, match="third clustering level"):
        _semdedup_coarse_k(SEMDEDUP_MAX_K ** 2 + 1)


def test_semantic_dedup_twolevel_entry_refines(spark, sf_dir):
    """The driver-checked two-level entry must
    actually exercise the fine level: more final clusters than coarse
    cells (else it silently degenerated to coarse-only clustering), the
    survivor table covers the corpus, and the pinned-size K derivation
    matches the Python twin."""
    from nfl_data_engineering_spark.plans import vector as V
    out = _BY_NAME["semantic_dedup_twolevel"].spark(spark, sf_dir).cache()
    n = load(spark, sf_dir, "embeddings").count()
    assert out.count() == n
    k = V._semdedup_k(n, V.SEMDEDUP_TL_CLUSTER_SIZE)
    k1 = V._semdedup_coarse_k(k)
    n_clusters = out.select("cluster").distinct().count()
    assert n_clusters > k1, "fine level must refine past the coarse cells"
    assert out.filter(F.col("canonical_vec_id") > F.col("vec_id")).count() == 0
    out.unpersist()


def test_semantic_dedup_two_level_matches_oracle(spark, sf_dir, monkeypatch):
    """Force the two-level path at test scale: cap
    the gate at 4 and shrink the target cluster size so the 500-vector
    corpus derives K=10 > 4 -> coarse K1=4, ~3 fine clusters per cell.
    The Spark result must hash-match the two-level oracle twin — the
    same unrolled-CTE discipline as the production single-level oracle,
    extended one level up — under the driver-style dtype-strict
    comparison."""
    import duckdb

    from nfl_data_engineering_spark.parity import compare
    from nfl_data_engineering_spark.plans import vector as V

    monkeypatch.setattr(V, "SEMDEDUP_MAX_K", 4)
    monkeypatch.setattr(V, "SEMDEDUP_CLUSTER_SIZE", 50)
    out = V.q_semantic_dedup(spark, sf_dir)
    spark_pdf = out.toPandas()

    n = spark_pdf.shape[0]
    k = V._semdedup_k(n)
    assert k > 4, "test corpus must exceed the forced gate"
    k1 = V._semdedup_coarse_k(k)
    assert k1 == 4
    # the fine level must actually refine: more clusters than coarse cells
    assert spark_pdf["cluster"].nunique() > k1

    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf_dir}/embeddings.parquet'")
    duck_pdf = con.execute(
        V._semdedup_two_level_oracle(k1, 50, V.SEMDEDUP_THRESHOLD)).df()
    assert compare(spark_pdf, duck_pdf) == []
