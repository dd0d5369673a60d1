"""leakage_safe_split (plans/textops.py): the near-dup-cluster-keyed
train/valid/test split. The load-bearing property is structural — every
near-dup cluster lands in exactly ONE split — plus the rollup must
conserve doc counts and report a non-trivial rescued-doc audit on the
test corpus (the counterfactual leakage a naive doc_id-keyed split
would have caused)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nfl_data_engineering_spark.functions.hashing import h60
from nfl_data_engineering_spark.plans.base import load, release_deferred
from nfl_data_engineering_spark.plans.registry import _BY_NAME
from nfl_data_engineering_spark.plans.textops import _star_verified_pairs
from nfl_data_engineering_spark.operators.dedup import connected_components


def test_no_cluster_spans_splits(spark, sf_dir):
    """No verified near-dup PAIR straddles a split boundary. Per-doc
    splits are derived exactly the way the entry derives them (canon =
    coalesce(label, doc_id), h60 bucket -> split), then checked against
    the raw EDGES rather than the component labels — grouping by label
    and asserting one split per label would be true by construction
    (split is a pure function of label). The edge form fails
    if component labeling ever gives two linked docs different labels."""
    edges = _star_verified_pairs(spark, sf_dir)
    labels = connected_components(edges, "d1", "d2")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    canon = F.coalesce(F.col("label"), F.col("doc_id"))
    bucket = h60(F.concat(F.lit("split_"), canon.cast("string"))) % 10
    split = (F.when(bucket <= 7, F.lit("train"))
             .when(bucket == 8, F.lit("valid"))
             .otherwise(F.lit("test")))
    per_doc = (docs.join(labels.withColumnRenamed("n", "doc_id"),
                         "doc_id", "left")
               .select("doc_id", split.alias("split")))
    straddlers = (edges
                  .join(per_doc.select(F.col("doc_id").alias("d1"),
                                       F.col("split").alias("s1")), "d1")
                  .join(per_doc.select(F.col("doc_id").alias("d2"),
                                       F.col("split").alias("s2")), "d2")
                  .filter(F.col("s1") != F.col("s2")).count())
    release_deferred()
    assert straddlers == 0


def test_rollup_conserves_docs_and_audits_rescues(spark, sf_dir):
    out = {r["split"]: r for r in
           _BY_NAME["leakage_safe_split"].spark(spark, sf_dir).collect()}
    n_docs = load(spark, sf_dir, "documents").count()
    assert set(out) == {"train", "valid", "test"}
    assert sum(r["n_docs"] for r in out.values()) == n_docs
    # every rescued doc is by definition in a multi-doc cluster
    for r in out.values():
        assert r["n_rescued_docs"] <= r["n_clustered_docs"] <= r["n_docs"]
    # the testdata corpus has near-dup clusters whose members hash to
    # different naive buckets — the audit must see them, else the entry
    # is indistinguishable from the naive split
    assert sum(r["n_rescued_docs"] for r in out.values()) > 0
