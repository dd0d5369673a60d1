"""Vector-similarity query catalog (LLM-pipeline extension).

Brute-force cosine top-k is the correctness baseline; IVF (label-cell
partitioned) is the scale path — it prunes the scan to the probed cell.
Determinism: dot products run in double on both engines; centroids go
through exact decimal sums + round(6) so Spark's partial-aggregation order
can't leak into results.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h60_py
from ..functions.similarity import (brute_force_topk, candidate_pairs, cosine,
                                    cosine_arrow, dot, guard_allpairs,
                                    l2_normed, verify_cosine)
from ..localdf import local_df
from ..storage import park_frame, pin, stage
from .base import QueryDef, load, recall_ppm, sql_recall_ppm
from .textops import sql_component_ctes

TOPK = 5
N_QUERIES = 10          # vec_id < 10 are the query vectors
COSINE_PAIR_THRESHOLD = 0.45

SQL_COS = ("list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
           " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
           " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))")


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query set, linear corpus scan,
    per-query rank window with (score desc, vec_id) tie-break."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = brute_force_topk(emb, queries, k=TOPK)
    return out.select("q_id", "vec_id", "rank", F.round("score", 6).alias("score"))


ORACLE_EMBEDDING_TOPK = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}),
s AS (
  SELECT q.q_id, e.vec_id,
         {SQL_COS.format(a='e.embedding', b='q.q_vec')} AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.q_id),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank FROM s)
SELECT q_id, vec_id, rank, ROUND(score, 6) AS score FROM r WHERE rank <= {TOPK}
"""


def exact_label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid with the exact-decimal discipline (determinism
    rule 1): per-dim sums go through DECIMAL(18,8) so Spark's partial-
    aggregation order can't perturb the mean, rounded to 6 so the double
    is bit-equal to the oracle's identical CTE. The ONE definition shared
    by every IVF probe path — a change here must be mirrored in the
    oracles' `cent`/`cvec` CTEs (grep: DECIMAL(18,8))."""
    return (emb.select("label", F.posexplode("embedding").alias("d", "v"))
            .groupBy("label", "d")
            .agg(F.round(F.sum(F.col("v").cast("double").cast("decimal(18,8)"))
                         .cast("double") / F.count("*"), 6).alias("c"))
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
            .select(F.col("label").alias("cell"),
                    F.col("dc.c").alias("centroid")))


def _ivf_probe_topk(spark: SparkSession, sf_dir: str, nprobe: int,
                    emit_cell: bool) -> DataFrame:
    """Shared IVF dataflow for nprobe=1 and multi-probe: route each query
    to its ``nprobe`` nearest label-cell centroids (broadcast cross join
    against the tiny centroid table), scan ONLY those cells (broadcast
    equi-join against the cell-bucketed corpus), rank globally across the
    probed cells with the pinned (score desc, vec_id) order."""
    emb = pin(load(spark, sf_dir, "embeddings"))
    cents = exact_label_centroids(emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    routed_scores = queries.crossJoin(F.broadcast(cents)).select(
        "q_id", "q_vec", "cell",
        cosine(F.col("q_vec"), F.col("centroid")).alias("cscore"))
    wq = Window.partitionBy("q_id").orderBy(F.col("cscore").desc(), F.col("cell"))
    routed = (routed_scores.withColumn("crank", F.row_number().over(wq))
              .filter(F.col("crank") <= nprobe).select("q_id", "q_vec", "cell"))
    pairs = load(spark, sf_dir, "embeddings").join(
        F.broadcast(routed),
        (F.col("label") == F.col("cell")) & (F.col("vec_id") != F.col("q_id")))
    out_cols = ["q_id", "cell", "vec_id"] if emit_cell else ["q_id", "vec_id"]
    scored = pairs.select(
        *out_cols, cosine(F.col("embedding"), F.col("q_vec")).alias("score"))
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select(*out_cols, "rank", F.round("score", 6).alias("score")))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: label cells as the coarse quantizer. Centroid = per-dim
    exact-decimal mean rounded to 6 (deterministic across engines AND across
    Spark partitionings); each query probes its best cell only (nprobe=1),
    ranks within the cell. At 100 TB the corpus is bucketed by cell, so a
    probe reads one bucket, not the table."""
    return _ivf_probe_topk(spark, sf_dir, nprobe=1, emit_cell=True)


ORACLE_ANN_IVF = f"""
WITH u AS (
  SELECT label, vec_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings),
cent AS (
  SELECT label AS cell, d,
         ROUND(CAST(SUM(CAST(v::DOUBLE AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS c
  FROM u GROUP BY label, d),
cvec AS (SELECT cell,
                list_transform(list_sort(list(struct_pack(d := d, c := c))),
                               x -> x.c) AS centroid
         FROM cent GROUP BY cell),
q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}),
routed AS (
  SELECT q_id, q_vec, cell,
         row_number() OVER (PARTITION BY q_id ORDER BY
           {SQL_COS.format(a='q_vec', b='centroid')} DESC, cell) AS crank
  FROM q CROSS JOIN cvec),
probe AS (SELECT q_id, q_vec, cell FROM routed WHERE crank = 1),
scored AS (
  SELECT p.q_id, p.cell, e.vec_id,
         {SQL_COS.format(a='e.embedding', b='p.q_vec')} AS score
  FROM probe p JOIN embeddings e ON e.label = p.cell AND e.vec_id != p.q_id),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank FROM scored)
SELECT q_id, cell, vec_id, rank, ROUND(score, 6) AS score FROM r WHERE rank <= {TOPK}
"""


IVF_NPROBE = 2


def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe (nprobe=2): each query scans its TWO best
    cells instead of one — the standard recall knob when the true neighbor
    sits just across a cell boundary. Cost scales linearly in nprobe
    (2/|cells| of the corpus per query instead of 1/|cells|), and the plan
    is identical to nprobe=1 — the probed-cell set is still a broadcast
    equi-join against the cell-bucketed corpus, so the same bucketing
    serves any nprobe at 100 TB. Ranking is global across the probed
    cells (score desc, vec_id tiebreak)."""
    return _ivf_probe_topk(spark, sf_dir, nprobe=IVF_NPROBE, emit_cell=False)


ORACLE_ANN_IVF_MULTIPROBE = f"""
WITH u AS (
  SELECT label, vec_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings),
cent AS (
  SELECT label AS cell, d,
         ROUND(CAST(SUM(CAST(v::DOUBLE AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS c
  FROM u GROUP BY label, d),
cvec AS (SELECT cell,
                list_transform(list_sort(list(struct_pack(d := d, c := c))),
                               x -> x.c) AS centroid
         FROM cent GROUP BY cell),
q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}),
routed AS (
  SELECT q_id, q_vec, cell,
         row_number() OVER (PARTITION BY q_id ORDER BY
           {SQL_COS.format(a='q_vec', b='centroid')} DESC, cell) AS crank
  FROM q CROSS JOIN cvec),
probe AS (SELECT q_id, q_vec, cell FROM routed WHERE crank <= {IVF_NPROBE}),
scored AS (
  SELECT p.q_id, e.vec_id,
         {SQL_COS.format(a='e.embedding', b='p.q_vec')} AS score
  FROM probe p JOIN embeddings e ON e.label = p.cell AND e.vec_id != p.q_id),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank FROM scored)
SELECT q_id, vec_id, rank, ROUND(score, 6) AS score FROM r WHERE rank <= {TOPK}
"""


def q_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= {thr}). All-pairs at testdata
    scale; at 100 TB route through IVF cells / LSH buckets first (the
    candidate-generation pattern of q_dedup_minhash_lsh). guard_allpairs
    refuses to plan the O(n^2) join above the baseline cap, so a
    corpus-scale invocation fails fast instead of launching an unbounded
    nested-loop job."""
    emb = guard_allpairs(load(spark, sf_dir, "embeddings"),
                         "cosine_neardup_pairs")
    return (verify_cosine(l2_normed(emb), COSINE_PAIR_THRESHOLD, "v1", "v2")
            .select("v1", "v2", F.round("score", 6).alias("cosine")))


ORACLE_COSINE_NEARDUP = f"""
SELECT a.vec_id AS v1, b.vec_id AS v2,
       ROUND({SQL_COS.format(a='a.embedding', b='b.embedding')}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {SQL_COS.format(a='a.embedding', b='b.embedding')} >= {COSINE_PAIR_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SRP-LSH near-dup: the bucketed scale path for cosine pairs
# ---------------------------------------------------------------------------

SRP_BANDS = 16
SRP_BITS_PER_BAND = 12  # floor width; widens with corpus size (srp_bits)
SRP_MAX_BITS = 23       # plane budget: SRP_BANDS * SRP_MAX_BITS hyperplanes


def srp_bits(n: int) -> int:
    """Corpus-adaptive band width: 12 bits up to 8192 vectors (all test
    SFs — keeps results byte-stable vs the fixed-width rounds), then one
    extra bit per corpus doubling, capped at SRP_MAX_BITS. Rationale: at
    fixed width, bucket occupancy grows ~n/2^bits, so the within-bucket
    candidate join is quadratic in n — measured 440 s at a 2M-vector
    replica (119x wall for 10x data past the 10x point) before this,
    36 s after. Holding 2^bits ~ n keeps occupancy O(1) and the candidate
    set O(n). Integer threshold-sum formula (no float log2) so the DuckDB
    oracle computes the identical value from COUNT(*)."""
    return SRP_BITS_PER_BAND + sum(n > (1 << k) for k in range(13, 13 + SRP_MAX_BITS - SRP_BITS_PER_BAND))
SRP_DIM = 64                      # embeddings table dimension (TESTDATA)
SRP_THRESHOLD = 0.45


def _srp_signs(bits: int = SRP_BITS_PER_BAND) -> list[list[float]]:
    """Deterministic Rademacher hyperplanes: sign of plane j, dim d is
    h60('srp_{j}_{d}') parity — no RNG, identical in the oracle. Plane j
    is always srp_j regardless of band width, so a wider run's plane set
    is a prefix-extension, never a reshuffle."""
    nplanes = SRP_BANDS * bits
    return [[1.0 if h60_py(f"srp_{j}_{d}") % 2 else -1.0
             for d in range(SRP_DIM)] for j in range(nplanes)]


def q_cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup via signed-random-projection LSH: each vector gets
    192 sign bits (16 bands x 12 bits); vectors sharing any band key become
    candidates; exact cosine verifies candidates only.

    This is the 100 TB twin of q_cosine_neardup_pairs: the all-pairs cross
    join is replaced by an equi-join on (band, band_key) — linear scans plus
    a join sized by the band collision rate. Band width IS the scale knob:
    4-bit bands (16 buckets) leave expected candidates ~n^2/64 — still
    quadratic, measured 37.6 s / ~815k pairs at sf0.1 — while 12-bit bands
    (4096 buckets) push a random pair's per-band collision odds to
    p^12 ~ 2^-12 (p = 1-θ/π ~ 0.5 at θ=90°), so the candidate set is the
    near-duplicate clusters plus a thin random film: O(n) in corpus size
    for fixed cluster geometry, the shape that survives 100x. The recall
    trade is real and documented: at this permissive 0.45 threshold
    (p=0.65) a 12-bit band keeps ~0.5% of true pairs per band (~8% over
    16 bands); at the θ>=0.9 thresholds real dedup runs at (p>=0.86),
    12-bit bands retain ~16% per band and the 16-band OR reaches ~94%
    recall — wide bands are BUILT for tight thresholds. For permissive
    sweeps, raise SRP_BANDS or multi-probe; never narrow the bands back
    into the quadratic regime.

    Plan shape: all 192 hyperplane dot products are computed in ONE
    `transform` over a nested plane-matrix literal (one codegen stage, no
    192-expression tree for Catalyst to chew), then each band key packs 12
    sign bits from an array slice via an integer fold — integer equi-join
    keys, no md5 strings. Candidates ARE deduped before verification
    (measured 2x faster end-to-end than verify-then-dedup: the distinct's
    exchange materializes the candidate set so AQE plans the norm-lookup
    joins as broadcasts). Verification precomputes each vector's norm
    once, so a candidate pair costs one dot product — kept in
    zip_with/aggregate form, because an unrolled 64-term sum exceeds the
    codegen method-size limit and drops the stage to interpreted eval
    (measured 4x slower)."""
    verified = _vector_srp_join(load(spark, sf_dir, "embeddings"),
                                SRP_THRESHOLD)
    return verified.select(F.col("id1").alias("v1"), F.col("id2").alias("v2"),
                           F.round("score", 6).alias("cosine"))


def _srp_bands(emb: DataFrame, bits: int) -> DataFrame:
    """(vec_id, band, band_key) via an Arrow-batched numpy sketch.

    The pure-expression form (transform over a plane-matrix literal +
    aggregate fold) is interpreted per element by Catalyst's higher-order
    functions — measured 222 s of a 290 s run just sketching a 200k-vector
    corpus (the expression-literal form is fine at 2k vectors, the
    bottleneck at 200k). numpy does the same projection in milliseconds
    per Arrow batch. Determinism across engines is kept by accumulating
    the projection DIMS SEQUENTIALLY — one vectorized FMA per dimension,
    in dimension order — which is bit-identical to the JVM fold-left and
    DuckDB's list_dot_product. BLAS matmul / numpy pairwise summation is
    deliberately NOT used: a reassociated sum could flip the sign of a
    near-zero projection and break cross-engine hash parity. Key packing
    is integer (exact)."""
    import numpy as np
    planes = np.asarray(_srp_signs(bits), dtype=np.float64)  # (B*bits, 64)
    n_bands = SRP_BANDS

    @F.pandas_udf("array<long>")
    def srp_keys(vs: pd.Series) -> pd.Series:
        import numpy as _np
        if not len(vs):
            return pd.Series([], dtype=object)
        x = _np.stack([_np.asarray(v, dtype=_np.float64) for v in vs])
        acc = _np.zeros((x.shape[0], planes.shape[0]), dtype=_np.float64)
        for d in range(planes.shape[1]):          # sequential over dims
            acc += x[:, d, None] * planes[None, :, d]
        sign = acc > 0
        keys = _np.zeros((x.shape[0], n_bands), dtype=_np.int64)
        for b in range(n_bands):
            for r in range(bits):                 # MSB-first, exact ints
                keys[:, b] = keys[:, b] * 2 + sign[:, b * bits + r]
        return pd.Series(list(keys))

    return (emb.select("vec_id", srp_keys("embedding").alias("ks"))
            .select("vec_id", F.posexplode("ks").alias("band", "band_key")))


def _vector_srp_join(vecs: DataFrame, threshold: float) -> DataFrame:
    """SRP-LSH candidates -> exact-cosine verify over a (vec_id,
    embedding) frame; returns (id1, id2, score) with score >=
    ``threshold``. The band width is corpus-adaptive (srp_bits): the
    count is a bounded scalar probe, and bits is then a PLAN-TIME
    constant baked into the sketch UDF — only the oracle computes it in
    SQL. The bands are cached because both candidate sides read them
    (uncached, the hyperplane sketch recomputes per side); the norms are
    cached for the two verify sides. Both are pinned (storage.pin)."""
    bits = srp_bits(vecs.count())
    bands = pin(_srp_bands(vecs, bits))
    cand = candidate_pairs(bands, "vec_id", ["band", "band_key"],
                           "id1", "id2")
    normed = pin(l2_normed(vecs))
    return verify_cosine(normed, threshold, "id1", "id2", cand)


def q_embedding_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup survivor selection: connected components
    over the SRP-LSH cosine pair graph, canonical vector = component
    minimum — the vector twin of q_dedup_components (text/MinHash). The
    full pipeline a semantic dedup runs at 100 TB: linear sketch pass →
    bucketed candidate join → exact verify → min-label propagation
    (operators/dedup.py:connected_components — one equi-join + groupBy
    per round, O(graph diameter) rounds, driver reads only a scalar
    convergence sum). Oracle: DuckDB recursive CTE over the identical
    pair graph."""
    from ..operators.dedup import connected_components
    with stage():        # labels checkpointed -> caches out of lineage
        pairs = _vector_srp_join(load(spark, sf_dir, "embeddings"),
                                 SRP_THRESHOLD)
        labels = connected_components(pairs, "id1", "id2")
    park_frame(labels)
    return (labels.groupBy(F.col("label").alias("component"))
            .agg(F.count("*").alias("n_vecs"),
                 F.max("n").alias("max_vec_id")))


def _srp_band_ctes() -> str:
    # full SRP_MAX_BITS-wide plane matrix: plane j is srp_j in BOTH widths,
    # so indexing dv[band*bits + r + 1] with the SQL-computed bits hits the
    # exact planes the Spark side uses at that corpus size; surplus planes
    # are computed and ignored (they never change referenced values)
    signs = _srp_signs(SRP_MAX_BITS)
    planes = ("[" + ", ".join(
        "[" + ", ".join(str(s) for s in row) + "]" for row in signs)
        + "]::DOUBLE[][]")
    # bits from COUNT(*) via the same integer threshold-sum as srp_bits()
    bits_expr = str(SRP_BITS_PER_BAND) + " + " + " + ".join(
        f"(CASE WHEN n > {1 << k} THEN 1 ELSE 0 END)"
        for k in range(13, 13 + SRP_MAX_BITS - SRP_BITS_PER_BAND))
    # dv[i] is 1-based; band b packs bits b*bits .. b*bits+bits-1, MSB
    # first — SUM of per-bit contributions (integer, order-free) replaces
    # the static per-bit '+' chain so the width can be data-dependent
    return f"""dots AS (
  SELECT vec_id,
         list_transform({planes},
                        p -> list_dot_product(embedding::DOUBLE[], p)) AS dv
  FROM embeddings),
params AS (
  SELECT {bits_expr} AS bits FROM (SELECT COUNT(*) AS n FROM embeddings)),
bands AS (
  SELECT d.vec_id, b.band,
         SUM(CASE WHEN d.dv[b.band * p.bits + r.r + 1] > 0
                  THEN (1::BIGINT << (p.bits - 1 - r.r)) ELSE 0 END)
           AS band_key
  FROM dots d
  CROSS JOIN params p
  CROSS JOIN (SELECT unnest(generate_series(0, {SRP_BANDS - 1})) AS band) b
  CROSS JOIN (SELECT unnest(generate_series(0, {SRP_MAX_BITS - 1})) AS r) r
  WHERE r.r < p.bits
  GROUP BY d.vec_id, b.band)"""


def _srp_oracle() -> str:
    return f"""{_srp_band_ctes()},
cand AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.vec_id < b.vec_id),
pairs AS (
  SELECT c.v1, c.v2,
         {SQL_COS.format(a='x.embedding', b='y.embedding')} AS score
  FROM cand c
  JOIN embeddings x ON x.vec_id = c.v1
  JOIN embeddings y ON y.vec_id = c.v2
  WHERE {SQL_COS.format(a='x.embedding', b='y.embedding')} >= {SRP_THRESHOLD})"""


_SRP_PAIR_CTES = _srp_oracle()

ORACLE_COSINE_LSH = f"""
WITH {_SRP_PAIR_CTES}
SELECT v1, v2, ROUND(score, 6) AS cosine FROM pairs
"""

ORACLE_EMB_COMPONENTS = f"""
WITH RECURSIVE {_SRP_PAIR_CTES},
{sql_component_ctes("pairs", "v1", "v2", "vec_id")}
SELECT component, COUNT(*) AS n_vecs, MAX(vec_id) AS max_vec_id
FROM comp GROUP BY component
"""


def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine train/eval decontamination — the semantic twin of
    the n-gram q_contamination_check: an eval example is contaminated
    when a TRAIN vector sits within SRP_THRESHOLD cosine (paraphrase-level
    leakage that n-gram overlap misses). Split by content id (vec_id % 5
    == 0 -> eval). The scale shape is the incremental-dedup discipline
    applied to vectors: ONE shared SRP sketch pass, candidates ONLY from
    (eval band) x (train band) buckets — no eval-vs-eval or
    train-vs-train work — then exact-cosine verification per candidate.
    Output per eval vector: verified train-hit count, min matching train
    id (-1 when clean), contamination flag."""
    emb = load(spark, sf_dir, "embeddings")
    is_eval = F.col("vec_id") % 5 == 0
    bits = srp_bits(emb.count())
    bands = pin(_srp_bands(emb, bits))
    cand = candidate_pairs(bands, "vec_id", ["band", "band_key"], "vt", "vr",
                           probe=is_eval)
    # norms deliberately uncached: each vector is scored on one side only
    hits = (verify_cosine(l2_normed(emb), SRP_THRESHOLD, "vt", "vr", cand)
            .groupBy("vt")
            .agg(F.count("*").alias("nh"), F.min("vr").alias("ref")))
    tests = emb.filter(is_eval).select("vec_id")
    return (tests.join(hits.withColumnRenamed("vt", "vec_id"),
                       "vec_id", "left")
            .select("vec_id",
                    F.coalesce("nh", F.lit(0)).alias("n_train_hits"),
                    F.coalesce("ref", F.lit(-1)).alias("ref_vec_id"),
                    F.col("nh").isNotNull().cast("int")
                    .alias("is_contaminated")))


def _oracle_semantic_contamination() -> str:
    return f"""
WITH {_srp_band_ctes()},
cand AS (
  SELECT DISTINCT a.vec_id AS vt, b.vec_id AS vr
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0),
hits AS (
  SELECT c.vt, COUNT(*) AS nh, MIN(c.vr) AS ref
  FROM cand c
  JOIN embeddings x ON x.vec_id = c.vt
  JOIN embeddings y ON y.vec_id = c.vr
  WHERE {SQL_COS.format(a='x.embedding', b='y.embedding')}
        >= {SRP_THRESHOLD}
  GROUP BY 1)
SELECT e.vec_id, CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_train_hits,
       COALESCE(h.ref, -1) AS ref_vec_id,
       CASE WHEN h.vt IS NOT NULL THEN 1 ELSE 0 END AS is_contaminated
FROM embeddings e LEFT JOIN hits h ON h.vt = e.vec_id
WHERE e.vec_id % 5 = 0
"""


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest-metrics audit of the LSH trade: exact all-pairs cosine
    (the ground truth q_cosine_neardup_pairs computes) vs the SRP-LSH
    pipeline's verified pairs, as counts + recall in exact integer ppm.
    Every verified LSH pair passes the same >= threshold filter, so LSH
    pairs are a subset of exact pairs and recall = |lsh| / |exact| —
    this entry MEASURES the recall the band-width analysis in
    q_cosine_neardup_lsh's docstring predicts (~8% at the permissive
    0.45 floor; ~94% at real 0.9+ dedup thresholds). Run it at any
    sf to validate a band configuration before a corpus-scale job;
    the exact side is the O(n^2) baseline, so keep it to samples at
    100 TB — guard_allpairs enforces that: above the cap the audit
    refuses to plan rather than silently launching the quadratic job
    (sample the corpus down first; recall estimates compose)."""
    emb = guard_allpairs(load(spark, sf_dir, "embeddings"),
                         "lsh_recall_audit exact side")
    exact = (verify_cosine(l2_normed(emb), SRP_THRESHOLD, "v1", "v2")
             .agg(F.count("*").alias("n_exact")))
    lsh = (_vector_srp_join(load(spark, sf_dir, "embeddings"),
                            SRP_THRESHOLD)
           .agg(F.count("*").alias("n_lsh")))
    return recall_ppm(exact, lsh, "n_exact", "n_lsh")


ORACLE_LSH_RECALL = f"""
WITH exact AS (
  SELECT COUNT(*) AS n_exact
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {SQL_COS.format(a='a.embedding', b='b.embedding')} >= {SRP_THRESHOLD}),
{_SRP_PAIR_CTES.lstrip()},
lsh AS (SELECT COUNT(*) AS n_lsh FROM pairs)
{sql_recall_ppm("n_exact", "n_lsh", "exact CROSS JOIN lsh")}
"""


def q_norms_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar `@pandas_udf` surface (§2.8): per-vector L2 norm
    via Arrow-batched numpy — the pattern for numeric kernels Spark
    expressions can't say (here they could: `aggregate` computes the same
    norm JVM-side — this entry exists to prove the Arrow path end-to-end
    with exact parity). Batches stream through Arrow; no per-row Python.
    float32 inputs are widened to float64 BEFORE the dot product, and
    round(6) absorbs numpy's pairwise-vs-sequential summation order."""
    @F.pandas_udf("double")
    def l2_norm(vs: pd.Series) -> pd.Series:
        import numpy as np
        return vs.map(lambda a: float(
            np.sqrt(np.dot(a64 := np.asarray(a, dtype="float64"), a64))))

    emb = load(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label",
                      F.round(l2_norm("embedding"), 6).alias("l2_norm"))


ORACLE_NORMS_PANDAS = """
SELECT vec_id, label,
       ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
         AS l2_norm
FROM embeddings
"""


def q_median_value_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate `@pandas_udf` surface (§2.8, the UDAF flavor next
    to the scalar q_norms_pandas_udf): per-event-type median via numpy.
    Median is selection + one midpoint average — no float summation — so
    the Arrow path hash-matches DuckDB's quantile_cont(0.5) exactly, no
    rounding slack needed. Spark plans it as a full-shuffle group agg (no
    partial aggregation for arbitrary UDAFs — the documented cost of the
    Python escape hatch vs builtin percentile)."""
    from .base import load as _load

    @F.pandas_udf("double")
    def pd_median(v: pd.Series) -> float:
        import numpy as np
        vv = v.dropna()
        return float(np.median(vv)) if len(vv) else None

    # Spark forbids mixing pandas UDAFs with JVM aggregates in one agg, so
    # the row count is a pandas UDAF as well.
    @F.pandas_udf("long")
    def pd_count(v: pd.Series) -> int:
        return len(v)

    ev = _load(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(pd_count("value").alias("n"),
                 pd_median("value").alias("median_value")))


ORACLE_MEDIAN_UDAF = """
SELECT event_type, COUNT(*) AS n, median(value) AS median_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Product quantization ANN: subspace codebooks + asymmetric distance
# ---------------------------------------------------------------------------

PQ_M = 4                # subspaces
PQ_SUBDIM = SRP_DIM // PQ_M


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al., IEEE TPAMI 2011): each
    vector compresses to PQ_M subspace codes (here 4 codes over a
    label-cell codebook — 4 bytes/vector, a 64x memory cut vs float32),
    and queries rank the corpus by ASYMMETRIC DISTANCE: the query's dot
    product against each codeword is precomputed once (a 4 x |codebook|
    lookup table), so scoring a corpus vector costs 4 table lookups + an
    integer sum — no per-pair float vector math at all. This is the
    in-memory-at-100TB search shape next to IVF (scan pruning) and SRP
    (candidate hashing): the corpus resides as codes, queries bring the
    float tables. Codebook = per-(label, subspace) exact-decimal-mean
    centroids (the IVF discipline); encoding = nearest codeword per
    subspace by L2, ties to the lowest label.

    Determinism: all dots/norms accumulate dims sequentially (fold-left
    parity with list_dot_product); d2 = (xx - 2*xc) + cc with the same
    association both engines; argmin takes the first minimum over
    ascending label ids (== ORDER BY d2, label); per-part contributions
    quantize to integer nano-units so the 4-part sum is order-free, and
    ranking orders by the integer sum itself."""
    import numpy as np
    emb = pin(load(spark, sf_dir, "embeddings"))
    cent_rows = (emb.select("label", F.posexplode("embedding")
                            .alias("d", "v"))
                 .groupBy("label", "d")
                 .agg(F.round(F.sum(F.col("v").cast("double")
                                    .cast("decimal(18,8)"))
                              .cast("double") / F.count("*"), 6).alias("c"))
                 .collect())
    labels = sorted({r["label"] for r in cent_rows})
    dim = 1 + max(r["d"] for r in cent_rows)
    lab_idx = {l: i for i, l in enumerate(labels)}
    cmat = np.zeros((len(labels), dim))
    for r in cent_rows:
        cmat[lab_idx[r["label"]], r["d"]] = r["c"]
    lab_arr = np.asarray(labels, dtype=np.int32)
    cc = np.zeros((PQ_M, len(labels)))
    for m in range(PQ_M):
        for d in range(PQ_SUBDIM):          # sequential over sub dims
            col = cmat[:, m * PQ_SUBDIM + d]
            cc[m] += col * col

    @F.pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        import numpy as _np
        if not len(vs):
            return pd.Series([], dtype=object)
        x = _np.stack([_np.asarray(v, dtype=_np.float64) for v in vs])
        out = _np.zeros((len(x), PQ_M), dtype=_np.int32)
        for m in range(PQ_M):
            xx = _np.zeros(len(x))
            xc = _np.zeros((len(x), len(lab_arr)))
            for d in range(PQ_SUBDIM):      # sequential over sub dims
                col = x[:, m * PQ_SUBDIM + d]
                xx += col * col
                xc += col[:, None] * cmat[None, :, m * PQ_SUBDIM + d]
            d2 = (xx[:, None] - 2.0 * xc) + cc[m][None, :]
            out[:, m] = lab_arr[_np.argmin(d2, axis=1)]
        return pd.Series(list(out))

    coded = (emb.select("vec_id", encode("embedding").alias("codes"))
             .select("vec_id", F.posexplode("codes").alias("m", "code")))
    # query ADC tables: bounded driver compute (N_QUERIES x PQ_M x labels)
    qrows = (emb.filter(F.col("vec_id") < N_QUERIES)
             .select("vec_id", "embedding").collect())
    tbl_rows = []
    for qr in qrows:
        qv = np.asarray(qr["embedding"], dtype=np.float64)
        for m in range(PQ_M):
            for li, lab in enumerate(labels):
                part = 0.0
                for d in range(PQ_SUBDIM):  # sequential over sub dims
                    part += qv[m * PQ_SUBDIM + d] * cmat[li, m * PQ_SUBDIM + d]
                tbl_rows.append((int(qr["vec_id"]), m, int(lab),
                                 float(part)))
    tbl = local_df(spark,
                   tbl_rows, "q_id bigint, m int, code int, part double")
    parts = (coded.join(F.broadcast(tbl), ["m", "code"])
             .filter(F.col("vec_id") != F.col("q_id")))
    scored = (parts.groupBy("q_id", "vec_id")
              .agg(F.sum(F.round(F.col("part") * 1e9).cast("bigint"))
                   .alias("s")))
    w = Window.partitionBy("q_id").orderBy(F.col("s").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("q_id", "vec_id", "rank",
                    F.round(F.col("s") / 1e9, 6).alias("approx_dot")))


_SQL_PQ_CTES = f"""u AS (
  SELECT label, vec_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings),
cent AS (
  SELECT label, d,
         ROUND(CAST(SUM(CAST(v::DOUBLE AS DECIMAL(18,8))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM u GROUP BY label, d),
cvec AS (
  SELECT label, (d - 1) // {PQ_SUBDIM} AS m,
         list_transform(list_sort(list(struct_pack(d := d, c := c))),
                        x -> x.c) AS csub
  FROM cent GROUP BY label, (d - 1) // {PQ_SUBDIM}),
subs AS (
  SELECT e.vec_id, mm.m,
         (e.embedding::DOUBLE[])[mm.m * {PQ_SUBDIM} + 1 :
                                 mm.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS xs
  FROM embeddings e
  CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm),
d2 AS (
  SELECT s.vec_id, s.m, cv.label,
         (list_dot_product(s.xs, s.xs)
          - 2 * list_dot_product(s.xs, cv.csub))
         + list_dot_product(cv.csub, cv.csub) AS d2
  FROM subs s JOIN cvec cv ON cv.m = s.m),
enc AS (
  SELECT vec_id, m, label AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2 ASC, label ASC) AS rn
    FROM d2) WHERE rn = 1),
q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < {N_QUERIES}),
adc AS (
  SELECT q.q_id, cv.m, cv.label AS code,
         list_dot_product(
           q.qv[cv.m * {PQ_SUBDIM} + 1 : cv.m * {PQ_SUBDIM} + {PQ_SUBDIM}],
           cv.csub) AS part
  FROM q CROSS JOIN cvec cv),
pq_scored AS (
  SELECT a.q_id, e.vec_id,
         SUM(CAST(ROUND(a.part * 1e9) AS BIGINT)) AS s
  FROM enc e JOIN adc a ON a.m = e.m AND a.code = e.code
  WHERE e.vec_id != a.q_id
  GROUP BY a.q_id, e.vec_id),
pq_top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY s DESC, vec_id) AS rank
    FROM pq_scored)
  WHERE rank <= {TOPK})"""

ORACLE_ANN_PQ = f"""
WITH {_SQL_PQ_CTES}
SELECT q_id, vec_id, rank, ROUND(s / 1e9, 6) AS approx_dot
FROM pq_top
"""


def q_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest-metrics audit for the PQ trade (the q_lsh_recall_audit
    discipline applied to the second ANN family): per-query recall@k of
    the ADC top-k against the EXACT inner-product top-k, in exact integer
    ppm. PQ's 64x memory cut costs ranking fidelity through two
    approximations (codebook quantization + per-subspace independence);
    this entry MEASURES what that costs on the actual corpus instead of
    assuming it. The exact side is the guarded brute-force baseline
    (broadcast query set, linear scan — at 100 TB run it over a sample;
    recall estimates compose); ground truth uses the same metric PQ
    approximates (unnormalized dot), same self-exclusion, same
    (score desc, vec_id) tie order."""
    emb = guard_allpairs(load(spark, sf_dir, "embeddings"),
                         "pq_recall_audit exact side")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    pairs = (emb.crossJoin(F.broadcast(queries))
             .filter(F.col("vec_id") != F.col("q_id")))
    scored = pairs.select(
        "q_id", "vec_id",
        dot(F.col("embedding"), F.col("q_vec")).alias("score"))
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), "vec_id")
    exact = (scored.withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= TOPK).select("q_id", "vec_id"))
    pq = q_ann_pq_topk(spark, sf_dir).select("q_id", "vec_id")
    hits = (exact.join(pq, ["q_id", "vec_id"])
            .groupBy("q_id").agg(F.count("*").alias("nh")))
    return (exact.groupBy("q_id").agg(F.count("*").alias("k"))
            .join(hits, "q_id", "left")
            .select("q_id", "k",
                    F.coalesce("nh", F.lit(0)).alias("n_hits"),
                    F.expr("coalesce(nh, 0) * 1000000 div k")
                    .alias("recall_ppm")))


ORACLE_PQ_RECALL = f"""
WITH {_SQL_PQ_CTES},
ex_s AS (
  SELECT q.q_id, e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv) AS score
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.q_id),
ex_top AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY score DESC, vec_id) AS rank
    FROM ex_s)
  WHERE rank <= {TOPK}),
hits AS (
  SELECT e.q_id, COUNT(*) AS nh
  FROM ex_top e JOIN pq_top p ON p.q_id = e.q_id AND p.vec_id = e.vec_id
  GROUP BY 1)
SELECT e.q_id, COUNT(*) AS k,
       CAST(COALESCE(MAX(h.nh), 0) AS BIGINT) AS n_hits,
       COALESCE(MAX(h.nh), 0) * 1000000 // COUNT(*) AS recall_ppm
FROM ex_top e LEFT JOIN hits h ON h.q_id = e.q_id
GROUP BY e.q_id
"""


# ---------------------------------------------------------------------------
# Distributed k-means over embeddings (spherical: cosine assignment)
# ---------------------------------------------------------------------------

KMEANS_K = 8            # clusters; seeds = the K lowest vec_ids
KMEANS_REFITS = 2       # centroid refits (3 assignment passes total)


def _kmeans_assign(emb: DataFrame, cent_rows: list) -> DataFrame:
    """Assign every vector to its best centroid. The K x dim centroid
    table is DRIVER-HELD (the MLlib dataflow: centroids are the one piece
    of state small enough to ship in the task closure) and all K cosines
    compute in ONE Arrow batch pass — no crossJoin row blow-up, no
    per-vector rank window, no shuffle at all for assignment.

    Determinism vs the oracle's row_number(ORDER BY cs DESC, cl): every
    sum accumulates dims sequentially (the fold-left float sequence), and
    np.argmax returns the FIRST maximal index — centroid ids are sorted
    ascending, so ties break to the lowest cl exactly like the window."""
    import numpy as np
    cent_rows = sorted(cent_rows, key=lambda r: r[0])
    cent_ids = np.asarray([r[0] for r in cent_rows], dtype=np.int64)
    cent_mat = np.asarray([r[1] for r in cent_rows], dtype=np.float64)
    cn = np.zeros(len(cent_rows))
    for d in range(cent_mat.shape[1]):        # sequential, matches l2norm
        cn += cent_mat[:, d] * cent_mat[:, d]
    cn = np.sqrt(cn)

    @F.pandas_udf("cl bigint, cs double")
    def assign(vs: pd.Series) -> pd.DataFrame:
        import numpy as _np
        if not len(vs):
            return pd.DataFrame({"cl": _np.array([], dtype=_np.int64),
                                 "cs": _np.array([], dtype=_np.float64)})
        x = _np.stack([_np.asarray(v, dtype=_np.float64) for v in vs])
        dp = _np.zeros((len(x), len(cent_ids)))
        xx = _np.zeros(len(x))
        for d in range(x.shape[1]):           # sequential over dims
            dp += x[:, d, None] * cent_mat[None, :, d]
            xx += x[:, d] * x[:, d]
        cs = dp / (_np.sqrt(xx)[:, None] * cn[None, :])
        best = _np.argmax(cs, axis=1)
        return pd.DataFrame({"cl": cent_ids[best],
                             "cs": cs[_np.arange(len(x)), best]})

    return (emb.select("vec_id", "embedding",
                       assign("embedding").alias("a"))
            .select("vec_id", "embedding", F.col("a.cl").alias("cl"),
                    F.col("a.cs").alias("cs")))


def _kmeans_recenter(assigned: DataFrame) -> list:
    """Per-cluster per-dim exact-decimal mean, rounded to 6 — deterministic
    across engines AND Spark partitionings (the IVF centroid doctrine).
    Returns driver-side [(cl, centroid_list)] — K x dim values, the
    bounded-scalar collect every distributed k-means makes per refit."""
    rows = (assigned.select("cl", F.posexplode("embedding").alias("d", "v"))
            .groupBy("cl", "d")
            .agg(F.round(F.sum(F.col("v").cast("double").cast("decimal(18,8)"))
                         .cast("double") / F.count("*"), 6).alias("c"))
            .groupBy("cl")
            .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
            .select("cl", F.col("dc.c").alias("cent"))
            .collect())
    return [(r["cl"], list(r["cent"])) for r in rows]


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus (spherical
    variant: cosine assignment), K=8, deterministic seeding (the K lowest
    vec_ids) — the clustering step behind semantic dedup, corpus
    stratification, and IVF codebook training. Reference scope analog:
    team-strength grouping (rankings_processor.py) generalized to vectors.

    Shape per iteration: assignment is ONE shuffle-free Arrow pass (all K
    cosines per vector in a single vectorized batch, centroids shipped in
    the task closure — MLlib's exact dataflow); the refit is one
    (cl, d)-keyed aggregate whose K x dim result is the bounded per-round
    driver collect every distributed k-means makes. So a 100 TB corpus
    pays one shuffle of (cl, d, v) triples per refit and nothing else.
    (The first cut kept centroids as a crossJoin-broadcast DataFrame to
    avoid the collect; profiled at a 200k-vector 100x replica the K-fold
    row blow-up + per-pair Arrow traffic made assignment the bottleneck —
    closure centroids cut the query from 52.8 s to 23.1 s.)

    Determinism: assignment ties break on cluster id (np.argmax takes the
    first maximal index over ascending-sorted centroid ids == the oracle's
    ORDER BY cs DESC, cl); centroids go through exact decimal sums +
    round(6); the reported mean cosine quantizes each addend to integer
    nano-units BEFORE summing (order-free)."""
    emb = pin(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    cents = [(r["vec_id"], list(r["embedding"]))
             for r in emb.filter(F.col("vec_id") < KMEANS_K).collect()]
    for _ in range(KMEANS_REFITS):
        cents = _kmeans_recenter(_kmeans_assign(emb, cents))
    final = _kmeans_assign(emb, cents)
    return (final.groupBy(F.col("cl").alias("cluster"))
            .agg(F.count("*").alias("n_members"),
                 F.round(F.sum(F.round(F.col("cs") * 1e9).cast("bigint"))
                         / 1e9 / F.count("*"), 6).alias("avg_cos")))


def _kmeans_cte_parts(k_sql: str = str(KMEANS_K)) -> list[str]:
    """Unrolled CTE parts of the Lloyd loop, ending at ``af`` (the final
    (vec_id, cl, cs) assignment) — shared by the kmeans report oracle
    (fixed K) and the SemDeDup oracle, whose cluster count is a SQL
    expression derived from the corpus size."""
    parts = [f"c0 AS (SELECT vec_id AS cl, embedding::DOUBLE[] AS cent\n"
             f"       FROM embeddings WHERE vec_id < {k_sql})"]
    prev = "c0"
    for i in range(1, KMEANS_REFITS + 1):
        parts += [
            f"""s{i} AS (
  SELECT e.vec_id, e.embedding, c.cl,
         {SQL_COS.format(a='e.embedding', b='c.cent')} AS cs
  FROM embeddings e CROSS JOIN {prev} c)""",
            f"""a{i} AS (
  SELECT vec_id, embedding, cl FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cl) AS rn FROM s{i})
  WHERE rn = 1)""",
            f"""u{i} AS (
  SELECT cl, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS d
  FROM a{i})""",
            f"""m{i} AS (
  SELECT cl, d,
         ROUND(CAST(SUM(CAST(v::DOUBLE AS DECIMAL(18,8))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM u{i} GROUP BY cl, d)""",
            f"""c{i} AS (
  SELECT cl, list_transform(list_sort(list(struct_pack(d := d, c := c))),
                            x -> x.c) AS cent
  FROM m{i} GROUP BY cl)""",
        ]
        prev = f"c{i}"
    parts += [
        f"""sf AS (
  SELECT e.vec_id, c.cl,
         {SQL_COS.format(a='e.embedding', b='c.cent')} AS cs
  FROM embeddings e CROSS JOIN {prev} c)""",
        """af AS (
  SELECT vec_id, cl, cs FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cl) AS rn FROM sf)
  WHERE rn = 1)""",
    ]
    return parts


def _oracle_kmeans() -> str:
    """Unrolled-CTE twin of the Lloyd loop: c0 (seeds) -> [assign ->
    refit] x KMEANS_REFITS -> final assign -> per-cluster report."""
    return ("WITH " + ",\n".join(_kmeans_cte_parts()) + """
SELECT cl AS cluster, COUNT(*) AS n_members,
       ROUND(SUM(CAST(ROUND(cs * 1e9) AS BIGINT)) / 1e9 / COUNT(*), 6)
         AS avg_cos
FROM af GROUP BY cl""")


SEMDEDUP_THRESHOLD = 0.45   # = SRP_THRESHOLD: the corpus's verified
                            # near-dup gate, so the entry exercises real
                            # multi-member duplicate groups at test sf
SEMDEDUP_CLUSTER_SIZE = 2500   # target mean cluster size: the cluster
                               # count scales as ceil(n / this), keeping
                               # the within-cluster quadratic bounded —
                               # the SemDeDup paper's own scaling move
                               # (50k clusters for 100M+ items)


# Budget gate on the DRIVER-HELD centroid table: the
# derived K grows linearly with the corpus, and the single-level path's
# centroid list is driver-collected then broadcast into every assignment
# pass. 500k centroids x 64 dims x 8 B ~ 0.25 GB — inside a stock
# driver/executor budget. Past the gate (> ~1.25e9 docs at the 2500
# target) q_semantic_dedup now routes through TWO-LEVEL clustering
# (SemDeDup's own scaling path): a coarse Lloyd with
# k1 = ceil(sqrt(K)) driver-held centroids, then a fully DISTRIBUTED
# per-cell fine Lloyd whose centroid table never touches the driver.
# Only a corpus needing k1 itself past the gate (K > MAX_K^2 ~ 2.5e11
# fine clusters ~ 6e17 docs) still fails loudly — a third level is not
# built.
SEMDEDUP_MAX_K = 500_000


def _semdedup_k(n: int, cluster_size: int | None = None) -> int:
    """Cluster count for a corpus of n vectors: at least the fixed-K
    report entry's 8, growing so mean cluster size stays bounded. At the
    test scale factors (<= 20k vectors) this IS 8, so the entry's
    verified results are unchanged; replicas get proportionally more
    clusters. Twin of the SQL expression in the oracle. Values past
    SEMDEDUP_MAX_K no longer raise here: q_semantic_dedup dispatches
    them to the two-level path (_semdedup_two_level).

    ``cluster_size`` (None -> the production SEMDEDUP_CLUSTER_SIZE,
    resolved at call time for monkeypatch compatibility) is the ONE
    copy of the ceil-division rule — the two-level entry and its tests
    pass SEMDEDUP_TL_CLUSTER_SIZE instead of re-inlining the
    arithmetic."""
    size = SEMDEDUP_CLUSTER_SIZE if cluster_size is None else cluster_size
    return max(KMEANS_K, -(-n // size))


def _semdedup_coarse_k(k: int) -> int:
    """Coarse cluster count for the two-level path: ceil(sqrt(k)), the
    split that balances the driver-held coarse table (k1 centroids)
    against the per-cell fine fan-out (~k/k1 centroids joined per
    vector) — both grow as sqrt(k) instead of k. Raises when even the
    coarse level would exceed the gate (a third level is not built)."""
    import math
    k1 = math.isqrt(k)
    if k1 * k1 < k:
        k1 += 1
    if k1 > SEMDEDUP_MAX_K:
        raise ValueError(
            f"semantic_dedup: two-level coarse K1={k1} for derived K={k} "
            f"still exceeds SEMDEDUP_MAX_K={SEMDEDUP_MAX_K}; a corpus "
            f"this size (> ~{SEMDEDUP_MAX_K}^2 fine clusters) would need "
            f"a third clustering level, which is not built.")
    return k1


# Integer ceiling-division, same arithmetic as _semdedup_k's
# -(-n // size) — float CEIL(n / size.0) can diverge from the Python twin
# on float-representation edges at very large n.
_SEMDEDUP_K_SQL = (f"GREATEST({KMEANS_K}, "
                   f"((SELECT COUNT(*) FROM embeddings)"
                   f" + {SEMDEDUP_CLUSTER_SIZE - 1}) // {SEMDEDUP_CLUSTER_SIZE})")


def _fine_assign_pass(coarse: DataFrame, fcents: DataFrame) -> DataFrame:
    """One fine-level assignment pass: route every vector ONLY to its own
    coarse cell's fine centroids (ccl equi-join — the IVF dataflow, no
    cross-cell work), score with the Arrow cosine kernel (hash-identical
    to the cosine() expression and the oracle's list_dot_product — see
    functions.similarity.cosine_arrow), and keep the best fine centroid
    per vector with the pinned (cs DESC, fcl) tie-break — the same
    ordering the oracle's fa CTEs pin with row_number (cs DESC, fcl) —
    expressed here as a partial-aggregating max of struct(cs, -fcl, ...)
    per vec_id: the same total order (highest cs, ties to LOWEST fcl via
    the negated field; Spark's struct comparator and the window's
    DESC both rank NaN above every number, matching DuckDB), but
    map-side combinable, so one best-so-far row per (vec_id, partition)
    shuffles instead of all ~sqrt(K) scored candidates per vector
    sorting through a window exchange. The tie-break never reaches the
    payload fields: fcl is unique within a cell, so -fcl already breaks
    every cs tie. (A per-cell cogrouped Arrow kernel was considered and
    rejected: applyInPandas concentrates a whole coarse cell
    (~2500*sqrt(K) vectors) into one task's memory, un-distributing
    exactly the dimension this join shape keeps distributed.) Row
    fan-out per vector is the cell's fine-centroid count (~sqrt(K) at
    the two-level split), which IS Lloyd's per-vector work."""
    scored = (coarse.join(fcents, "ccl")
              .select("vec_id", "embedding", "ccl", "fcl",
                      cosine_arrow()(F.col("embedding"), F.col("cent"))
                      .alias("__cs")))
    best = F.max(F.struct(
        F.col("__cs"), (-F.col("fcl")).alias("__nfcl"),
        F.col("fcl"), F.col("ccl"), F.col("embedding"))).alias("b")
    return (scored.groupBy("vec_id").agg(best)
            .select("vec_id", F.col("b.embedding").alias("embedding"),
                    F.col("b.ccl").alias("ccl"), F.col("b.fcl").alias("fcl")))


def _fine_recenter(assigned: DataFrame) -> DataFrame:
    """_kmeans_recenter's exact-decimal per-dim mean, keyed by
    (ccl, fcl) and kept DISTRIBUTED — the fine centroid table is the
    thing the two-level path exists to keep off the driver."""
    return (assigned
            .select("ccl", "fcl", F.posexplode("embedding").alias("d", "v"))
            .groupBy("ccl", "fcl", "d")
            .agg(F.round(F.sum(F.col("v").cast("double").cast("decimal(18,8)"))
                         .cast("double") / F.count("*"), 6).alias("c"))
            .groupBy("ccl", "fcl")
            .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
            .select("ccl", "fcl", F.col("dc.c").alias("cent")))


def _semdedup_two_level(emb: DataFrame, k: int,
                        cluster_size: int | None = None) -> DataFrame:
    """SemDeDup's scaling path for derived K past the driver-broadcast
    gate: cluster the corpus COARSELY with
    k1 = ceil(sqrt(K)) driver-held centroids (the proven q_kmeans
    dataflow), then run an independent fine Lloyd WITHIN each coarse
    cell, entirely distributed:

    - fine seeds: each cell's ceil(members / SEMDEDUP_CLUSTER_SIZE)
      lowest vec_ids (per-cell row_number — deterministic, and the total
      fine-cluster count tracks the single-level derivation);
    - assignment: ccl-keyed equi-join + Arrow cosine + (cs DESC, fcl)
      row_number (_fine_assign_pass);
    - recenter: exact-decimal per-dim means keyed by (ccl, fcl), never
      collected (_fine_recenter).

    Vectors never change coarse cell, so the fine problem is
    embarrassingly parallel across cells; cross-CELL near-dups are
    missed by the same documented design trade as cross-cluster ones in
    the single-level path. Returns the final (vec_id, embedding, cl)
    with cl = fine seed vec_id — the same id scheme as the single level;
    the coarse assignment is pinned (storage.pin).

    ``cluster_size`` (None -> the production SEMDEDUP_CLUSTER_SIZE)
    parametrizes the per-cell fine-seed ceiling so the driver-checked
    q_semantic_dedup_twolevel entry can pin a SMALL target and make the
    fine level genuinely refine at catalog scale factors."""
    k1 = _semdedup_coarse_k(k)
    cents = [(r["vec_id"], list(r["embedding"]))
             for r in emb.filter(F.col("vec_id") < k1).collect()]
    for _ in range(KMEANS_REFITS):
        cents = _kmeans_recenter(_kmeans_assign(emb, cents))
    coarse = pin(_kmeans_assign(emb, cents)
                 .select("vec_id", "embedding", F.col("cl").alias("ccl")))
    coarse.count()   # eager: the fine passes reference it repeatedly
    size = SEMDEDUP_CLUSTER_SIZE if cluster_size is None else cluster_size
    seeded = (coarse
              .withColumn("__cnt",
                          F.count(F.lit(1)).over(Window.partitionBy("ccl")))
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy("ccl").orderBy("vec_id"))))
    # integer ceiling division via `div` — the same arithmetic as the
    # oracle's `//` and _semdedup_k's -(-n // size): integer, never a
    # float ceil
    k2 = F.greatest(F.lit(1).cast("bigint"),
                    F.expr(f"(__cnt + {size - 1}) div {size}"))
    fcents = (seeded.filter(F.col("__rn") <= k2)
              .select("ccl", F.col("vec_id").alias("fcl"),
                      F.col("embedding").alias("cent")))
    for _ in range(KMEANS_REFITS):
        fcents = _fine_recenter(_fine_assign_pass(coarse, fcents))
    return (_fine_assign_pass(coarse, fcents)
            .select("vec_id", "embedding", F.col("fcl").alias("cl")))


def _semdedup_pair_kernel(threshold: float):
    """Per-cluster pairwise-cosine kernel for applyInPandas: emits the
    (v1, v2) pairs with cosine >= threshold, v1 < v2. The matrix math
    accumulates PER DIMENSION in index order (dp += outer(x_d, x_d),
    xx += x_d^2 — the _kmeans_assign doctrine), so every element's float
    op sequence is bit-identical to the sequential fold the oracle's
    list_dot_product computes; zero-norm vectors score NaN, which fails
    the >= gate exactly like the oracle's NULL. Row-blocked so a skewed
    cluster costs O(block x members) memory, never members^2. Measured
    34x over the expression-tree join form at the 10x replica (360.7s ->
    10.7s): one Arrow batch per cluster instead of
    ~25M per-pair fold evaluations, and norms computed once per vector
    instead of twice per pair."""
    def fn(pdf):
        import numpy as np
        import pandas as pd
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)             # unique ids -> total order
        ids = ids[order]
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"v1": np.array([], dtype=np.int64),
                                 "v2": np.array([], dtype=np.int64)})
        x = np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf["embedding"].iloc[order]])
        xx = np.zeros(m)
        for d in range(x.shape[1]):         # sequential over dims
            xx += x[:, d] * x[:, d]
        nrm = np.sqrt(xx)
        out1, out2 = [], []
        block = 1024
        for s in range(0, m, block):
            xb = x[s:s + block]
            dp = np.zeros((xb.shape[0], m))
            for d in range(x.shape[1]):     # sequential over dims
                dp += xb[:, d, None] * x[None, :, d]
            denom = nrm[s:s + block, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cs = dp / denom
            rows, cols = np.nonzero(cs >= threshold)
            keep = (rows + s) < cols        # v1 < v2, no self pairs
            out1.append(ids[rows[keep] + s])
            out2.append(ids[cols[keep]])
        return pd.DataFrame({"v1": np.concatenate(out1),
                             "v2": np.concatenate(out2)})
    return fn


def _semdedup_survivors(final: DataFrame) -> DataFrame:
    """Shared SemDeDup tail over a final (vec_id, embedding, cl)
    assignment: within-cluster Arrow pairwise kernel at
    SEMDEDUP_THRESHOLD -> connected components -> per-vector survivor
    table (vec_id, cluster, canonical_vec_id, is_survivor); the
    component labels are parked (storage.park_frame). One copy serves
    the single-level entry and the two-level entry — a drifting copy
    would silently verify a different dedup contract."""
    from ..operators.dedup import connected_components
    pairs = final.groupBy("cl").applyInPandas(
        _semdedup_pair_kernel(float(SEMDEDUP_THRESHOLD)),
        "v1 long, v2 long")
    labels = connected_components(pairs, "v1", "v2")
    park_frame(labels)
    canon = F.coalesce(F.col("label"), F.col("vec_id"))
    return (final.select("vec_id", F.col("cl").alias("cluster"))
            .join(labels.withColumnRenamed("n", "vec_id"), "vec_id", "left")
            .select("vec_id", "cluster", canon.alias("canonical_vec_id"),
                    (canon == F.col("vec_id")).cast("int")
                     .alias("is_survivor")))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    'SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication' — public method description): k-means-cluster the
    embedding corpus, compare pairs ONLY within a cluster, link pairs
    with cosine >= threshold, keep one canonical member per linked
    group. Returns the per-vector survivor table (vec_id, cluster,
    canonical_vec_id, is_survivor) — the semantic twin of
    q_dedup_survivor_table's text contract, and the missing middle
    between exact/MinHash text dedup and pure embedding CC
    (q_embedding_dedup_components links ALL SRP-candidate pairs; this
    entry scopes candidates by cluster the way the paper does).

    Scale shape: clustering is the measured q_kmeans_embeddings dataflow
    (shuffle-free Arrow assignment, one (cl,d) aggregate per refit);
    the pair stage is a cl-keyed equi-join whose fan-out is bounded by
    cluster size — and the cluster count is DERIVED from the corpus
    size (_semdedup_k: ceil(n / SEMDEDUP_CLUSTER_SIZE), the paper's own
    scaling move — 50k clusters for 100M+ items — so the within-cluster
    quadratic, which IS the algorithm's documented trade, stays bounded
    per cluster at any corpus size; the oracle derives the identical K
    in SQL). Derived K past SEMDEDUP_MAX_K dispatches to the two-level
    path (_semdedup_two_level) instead of the single-level driver-held
    centroid table. Components ride operators/dedup.py's two-path CC; the
    survivor join broadcasts the (small) labels frame. Cross-cluster
    near-dups are missed BY DESIGN — the paper's recall trade for
    tractability. Seeds are the K lowest vec_ids (deterministic; on the
    key-shifted replicas that means copy 0 — seeding is arbitrary and
    both engines apply the same predicate).

    Determinism: clustering is the proven deterministic Lloyd twin
    (seeded by the K lowest vec_ids, exact-decimal recenter, argmax tie
    to lowest cluster id); pair cosine is the sequential fold both
    engines share; canonical = component-minimum vec_id."""
    emb = pin(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    k = _semdedup_k(emb.count())
    if k <= SEMDEDUP_MAX_K:
        cents = [(r["vec_id"], list(r["embedding"]))
                 for r in emb.filter(F.col("vec_id") < k).collect()]
        for _ in range(KMEANS_REFITS):
            cents = _kmeans_recenter(_kmeans_assign(emb, cents))
        final = pin(_kmeans_assign(emb, cents)
                    .select("vec_id", "embedding", "cl"))
    else:
        # centroid table past the driver/broadcast budget: two-level
        # clustering (coarse driver-held, fine distributed) — the gate
        # comment's escape hatch
        final = pin(_semdedup_two_level(emb, k))
    final.count()   # eager: pair kernel + survivor join race a lazy cache
    return _semdedup_survivors(final)


def _semdedup_tail(assign_rel: str, threshold: float) -> str:
    """Shared CC + survivor-table tail over an assignment relation with
    columns (vec_id, cl): within-cluster threshold pairs -> recursive
    reachability -> min-label components -> one row per vector. Used by
    both the single-level oracle (rel ``af``) and the two-level twin
    (rel ``faf``)."""
    cos = SQL_COS.format(a="e1.embedding", b="e2.embedding")
    return f"""pr AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2
  FROM {assign_rel} a JOIN {assign_rel} b
       ON a.cl = b.cl AND a.vec_id < b.vec_id
  JOIN embeddings e1 ON e1.vec_id = a.vec_id
  JOIN embeddings e2 ON e2.vec_id = b.vec_id
  WHERE {cos} >= {threshold}),
{sql_component_ctes("pr", "v1", "v2", "vec_id")}
SELECT t.vec_id, t.cl AS cluster,
       COALESCE(comp.component, t.vec_id) AS canonical_vec_id,
       CASE WHEN COALESCE(comp.component, t.vec_id) = t.vec_id
            THEN 1 ELSE 0 END AS is_survivor
FROM {assign_rel} t LEFT JOIN comp ON comp.vec_id = t.vec_id"""


def _oracle_semantic_dedup() -> str:
    return ("WITH RECURSIVE "
            + ",\n".join(_kmeans_cte_parts(_SEMDEDUP_K_SQL)) + ",\n"
            + _semdedup_tail("af", SEMDEDUP_THRESHOLD))


def _semdedup_two_level_oracle(k1: int | str, cluster_size: int,
                               threshold: float) -> str:
    """DuckDB twin of the TWO-LEVEL path — the oracle discipline extended
    one level up: the coarse Lloyd reuses
    _kmeans_cte_parts at K1 (an int literal, or a SQL expression that
    derives K1 from the corpus size — the driver-checked entry passes
    the latter so one static oracle string is correct at every SF), then
    the fine level unrolls per-cell seeds (row_number <= per-cell
    ceiling count), KMEANS_REFITS assign-then-recenter rounds keyed by
    (ccl, fcl), a final assignment, and the shared CC/survivor tail.
    Exercised by the forced-low-cap unit test
    (tests/test_semantic_dedup.py) AND by the driver-checked
    q_semantic_dedup_twolevel catalog entry; the production q_semantic_dedup
    driver oracle stays single-level because every test-SF corpus derives K <=
    SEMDEDUP_MAX_K."""
    cos = SQL_COS.format(a="m.embedding", b="c.cent")
    parts = _kmeans_cte_parts(str(k1))
    parts.append("""cc AS (
  SELECT af.vec_id, e.embedding, af.cl AS ccl
  FROM af JOIN embeddings e ON e.vec_id = af.vec_id)""")
    parts.append(f"""fs0 AS (
  SELECT vec_id, embedding, ccl,
         row_number() OVER (PARTITION BY ccl ORDER BY vec_id) AS rn,
         GREATEST(1, (COUNT(*) OVER (PARTITION BY ccl)
                      + {cluster_size - 1}) // {cluster_size}) AS k2
  FROM cc)""")
    parts.append("""fc0 AS (
  SELECT ccl, vec_id AS fcl, embedding::DOUBLE[] AS cent
  FROM fs0 WHERE rn <= k2)""")
    prev = "fc0"
    for i in range(1, KMEANS_REFITS + 1):
        parts += [
            f"""fa{i} AS (
  SELECT vec_id, embedding, ccl, fcl FROM (
    SELECT m.vec_id, m.embedding, m.ccl, c.fcl,
           row_number() OVER (PARTITION BY m.vec_id ORDER BY
             {cos} DESC, c.fcl) AS rn
    FROM cc m JOIN {prev} c ON c.ccl = m.ccl)
  WHERE rn = 1)""",
            f"""fu{i} AS (
  SELECT ccl, fcl, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS d
  FROM fa{i})""",
            f"""fm{i} AS (
  SELECT ccl, fcl, d,
         ROUND(CAST(SUM(CAST(v::DOUBLE AS DECIMAL(18,8))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM fu{i} GROUP BY ccl, fcl, d)""",
            f"""fc{i} AS (
  SELECT ccl, fcl,
         list_transform(list_sort(list(struct_pack(d := d, c := c))),
                        x -> x.c) AS cent
  FROM fm{i} GROUP BY ccl, fcl)""",
        ]
        prev = f"fc{i}"
    parts.append(f"""faf AS (
  SELECT vec_id, fcl AS cl FROM (
    SELECT m.vec_id, c.fcl,
           row_number() OVER (PARTITION BY m.vec_id ORDER BY
             {cos} DESC, c.fcl) AS rn
    FROM cc m JOIN {prev} c ON c.ccl = m.ccl)
  WHERE rn = 1)""")
    return ("WITH RECURSIVE " + ",\n".join(parts) + ",\n"
            + _semdedup_tail("faf", threshold))


# Pinned small target cluster size for the driver-checked two-level
# entry: at the catalog SFs the PRODUCTION gate never trips (derived K
# <= SEMDEDUP_MAX_K — only the gate error, not the two-level dataflow,
# would ever execute), so this entry pins size=50 to make the corpus
# derive K in the tens-to-hundreds and FORCES the two-level dispatch,
# putting the coarse-Lloyd -> distributed-fine-Lloyd -> CC/survivor
# pipeline itself under the driver's oracle hash.
SEMDEDUP_TL_CLUSTER_SIZE = 50

_SEMDEDUP_TL_K_SQL = (f"GREATEST({KMEANS_K}, "
                      f"((SELECT COUNT(*) FROM embeddings)"
                      f" + {SEMDEDUP_TL_CLUSTER_SIZE - 1})"
                      f" // {SEMDEDUP_TL_CLUSTER_SIZE})")

# Ceiling square root of the derived K, in float-error-robust integer
# form: f = floor(sqrt(k))
# can be off by one ulp either way, so the smallest s with s*s >= k is
# picked by explicit integer comparison over {f-1, f, f+1} — the exact
# twin of _semdedup_coarse_k's math.isqrt ceiling.
_SEMDEDUP_TL_K1_SQL = f"""(
  SELECT CASE WHEN (f - 1) * (f - 1) >= k THEN f - 1
              WHEN f * f >= k THEN f
              ELSE f + 1 END
  FROM (SELECT k, CAST(FLOOR(SQRT(k)) AS BIGINT) AS f
        FROM (SELECT {_SEMDEDUP_TL_K_SQL} AS k)))"""


def q_semantic_dedup_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-LEVEL SemDeDup path as a driver-checked catalog entry
    (the 500k-centroid gate means q_semantic_dedup's
    two-level branch never executes at catalog SF — only the forced
    monkeypatch unit test exercised it, outside the driver's oracle).
    Same contract as q_semantic_dedup (per-vector survivor table), but
    the cluster-size target is PINNED small (SEMDEDUP_TL_CLUSTER_SIZE =
    50) so every catalog corpus derives K past a sqrt split worth
    taking, and the entry dispatches the two-level dataflow
    UNCONDITIONALLY: coarse Lloyd with k1 = ceil(sqrt(K)) driver-held
    centroids, then the fully distributed per-cell fine Lloyd
    (_semdedup_two_level) whose centroid table never touches the driver
    — the exact shape a >1.25e9-doc corpus takes through the production
    entry. The oracle derives K and K1 from the corpus size in integer
    SQL (one static string, correct at every SF) and replays both Lloyd
    levels CTE-by-CTE plus the shared CC/survivor tail.

    Scale note: at catalog SF the within-cell fine problem is tens of
    vectors; at the production gate crossing it is ~2500*sqrt(K) per
    coarse cell — both bounded, both distributed. The entry's purpose
    is correctness attestation of the scale path, not speed at sf0.1."""
    emb = pin(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    k = _semdedup_k(emb.count(), SEMDEDUP_TL_CLUSTER_SIZE)
    final = pin(_semdedup_two_level(
        emb, k, cluster_size=SEMDEDUP_TL_CLUSTER_SIZE))
    final.count()   # eager: pair kernel + survivor join race a lazy cache
    return _semdedup_survivors(final)


ORACLE_SEMANTIC_DEDUP_TWOLEVEL = _semdedup_two_level_oracle(
    _SEMDEDUP_TL_K1_SQL, SEMDEDUP_TL_CLUSTER_SIZE, SEMDEDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# int8 scalar quantization of the embedding corpus + reconstruction audit
# ---------------------------------------------------------------------------

def q_embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of the embedding corpus —
    the 4x memory/IO compression step before a 100 TB vector corpus is
    servable — plus the reconstruction-error audit that decides whether
    int8 recall loss is acceptable. code = round((v-lo)/(hi-lo)*255);
    the audit reports per-label RMSE of dequantized vs original values.

    Shape: one (d)-keyed min/max aggregate (64 groups -> broadcast), then a
    row-local quantize/dequantize/error pass and one label-keyed aggregate
    — two scans, one tiny broadcast, no wide shuffle. Determinism: min/max
    are exact; every float op has the identical expression tree in the
    oracle; squared errors quantize to integer 1e-15 units before summing."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select("label", F.posexplode("embedding").alias("d", "v")) \
              .withColumn("v", F.col("v").cast("double"))
    rng = dims.groupBy("d").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    span = F.col("hi") - F.col("lo")
    code = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.round((F.col("v") - F.col("lo")) / span * 255).cast("int"))
    q = dims.join(F.broadcast(rng), "d").select(
        "label", "v", "lo", "hi", code.alias("code"))
    deq = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
        F.col("lo") + F.col("code") * (F.col("hi") - F.col("lo")) / 255.0)
    err = F.col("v") - deq
    per = q.select("label",
                   F.round(err * err * F.lit(1e15)).cast("bigint").alias("e2"))
    return (per.groupBy("label")
            .agg(F.count("*").alias("n_vals"),
                 F.round(F.sqrt(F.sum("e2") / F.lit(1e15) / F.count("*")), 6)
                  .alias("rmse")))


ORACLE_INT8_QUANT = """
WITH dimd AS (
  SELECT label, unnest(embedding)::DOUBLE AS v,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings),
rngd AS (SELECT d, MIN(v) AS lo, MAX(v) AS hi FROM dimd GROUP BY d),
q AS (
  SELECT label, v, lo, hi,
         CASE WHEN hi = lo THEN 0
              ELSE CAST(ROUND((v - lo) / (hi - lo) * 255) AS INTEGER)
         END AS code
  FROM dimd JOIN rngd USING (d)),
e AS (
  SELECT label,
         CAST(ROUND((v - (CASE WHEN hi = lo THEN lo
                               ELSE lo + code * (hi - lo) / 255.0 END))
                    * (v - (CASE WHEN hi = lo THEN lo
                                 ELSE lo + code * (hi - lo) / 255.0 END))
                    * 1e15) AS BIGINT) AS e2
  FROM q)
SELECT label, COUNT(*) AS n_vals,
       ROUND(sqrt(SUM(e2) / 1e15 / COUNT(*)), 6) AS rmse
FROM e GROUP BY label
"""


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT label —
    the negatives that sit closest to the decision boundary and teach the
    model the most. Same guarded broadcast shape as brute_force_topk
    (query side capped by guard_allpairs; Arrow cosine kernel on the
    corpus-linear scoring stage); the label-inequality predicate rides the
    broadcast join. At 100 TB route through the IVF cells first and skip
    the query's own cell — the filter composes with any ANN path since
    negatives by construction live in other cells."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"))
    guard_allpairs(queries, "hard_negative_mining query set",
                   max_rows=10_000)
    pairs = emb.join(F.broadcast(queries),
                     F.col("label") != F.col("q_label"))
    scored = pairs.select(
        "q_id", "q_label", "vec_id", F.col("label").alias("neg_label"),
        cosine_arrow()(F.col("embedding"), F.col("q_vec")).alias("score"))
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("q_id", "q_label", "vec_id", "neg_label", "rank",
                    F.round("score", 6).alias("score")))


ORACLE_HARD_NEGATIVES = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
           FROM embeddings WHERE vec_id < {N_QUERIES}),
s AS (
  SELECT q.q_id, q.q_label, e.vec_id, e.label AS neg_label,
         {SQL_COS.format(a='e.embedding', b='q.q_vec')} AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.label != q.q_label),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY score DESC, vec_id) AS rank
      FROM s)
SELECT q_id, q_label, vec_id, neg_label, rank, ROUND(score, 6) AS score
FROM r WHERE rank <= {TOPK}
"""


VECTOR_QUERIES = [
    QueryDef("embedding_topk", q_embedding_topk, ORACLE_EMBEDDING_TOPK, "LLM-sim-bruteforce", bench=True),
    QueryDef("hard_negative_mining", q_hard_negative_mining,
             ORACLE_HARD_NEGATIVES, "LLM-hard-negatives"),
    QueryDef("ann_ivf_topk", q_ann_ivf_topk, ORACLE_ANN_IVF, "LLM-sim-ivf"),
    QueryDef("ann_ivf_multiprobe", q_ann_ivf_multiprobe,
             ORACLE_ANN_IVF_MULTIPROBE, "LLM-sim-ivf-multiprobe"),
    QueryDef("cosine_neardup_pairs", q_cosine_neardup_pairs, ORACLE_COSINE_NEARDUP, "LLM-dedup-cosine"),
    QueryDef("cosine_neardup_lsh", q_cosine_neardup_lsh, ORACLE_COSINE_LSH, "LLM-dedup-cosine-lsh", bench=True),
    QueryDef("embedding_dedup_components", q_embedding_dedup_components,
             ORACLE_EMB_COMPONENTS, "LLM-dedup-cosine-components"),
    QueryDef("lsh_recall_audit", q_lsh_recall_audit, ORACLE_LSH_RECALL,
             "LLM-lsh-recall-audit"),
    QueryDef("semantic_contamination", q_semantic_contamination,
             _oracle_semantic_contamination(),
             "LLM-decontamination-semantic", bench=True),
    QueryDef("ann_pq_topk", q_ann_pq_topk, ORACLE_ANN_PQ,
             "LLM-sim-pq", bench=True),
    QueryDef("pq_recall_audit", q_pq_recall_audit, ORACLE_PQ_RECALL,
             "LLM-sim-pq-recall"),
    QueryDef("semantic_dedup", q_semantic_dedup, _oracle_semantic_dedup(),
             "LLM-dedup-semantic"),
    QueryDef("semantic_dedup_twolevel", q_semantic_dedup_twolevel,
             ORACLE_SEMANTIC_DEDUP_TWOLEVEL, "LLM-dedup-semantic-twolevel"),
    QueryDef("kmeans_embeddings", q_kmeans_embeddings, _oracle_kmeans(),
             "LLM-cluster-kmeans", bench=True),
    QueryDef("embedding_int8_quant", q_embedding_int8_quant,
             ORACLE_INT8_QUANT, "LLM-vector-quantization"),
    QueryDef("norms_pandas_udf", q_norms_pandas_udf, ORACLE_NORMS_PANDAS, "S2.8-pandas-udf"),
    QueryDef("median_value_udaf", q_median_value_udaf, ORACLE_MEDIAN_UDAF, "S2.8-pandas-udaf"),
]
