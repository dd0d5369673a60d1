"""Vector similarity (cosine, brute-force top-k) and
the candidate-join-and-verify kernel every similarity-join entry shares:
candidate_pairs (keyed equi-join -> distinct id pairs),
verify_jaccard_arrays and verify_cosine (exact verification), plus the
df-capped exact shingle overlap (capped_overlap) the exact jaccard and
containment entries and their recall audits measure against.

Embeddings are ``array<float>`` columns (FIXTURES.md F8). Dot products run
JVM-side via ``zip_with`` + ``aggregate`` in double precision — no Python in
the scoring loop. The Pandas-UDF path exists in sources/multimodal.py for
cases where numpy batching wins; for 64-dim vectors the builtin expression
is competitive and keeps the whole plan in codegen.

Scale shape:
- brute-force: broadcast the (small) query set, score each corpus partition
  independently, per-partition top-k via window. Corpus-side linear scan —
  the right baseline, and embarrassingly parallel.
- IVF (plans/vector.py, _ivf_probe_topk): partition the corpus by a
  coarse quantizer (nearest centroid), probe only the query's cell(s).
  Centroids are a tiny broadcast table; the probe is a partition-pruned
  equi-join. This is the 100 TB path: the scan per query drops by
  ~|cells|.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

# Labeled-baseline guard: the exact/brute-force entries are correctness
# baselines with scale-safe twins (SRP-LSH, IVF). Nothing used to STOP a
# corpus-scale invocation from planning an unbounded O(n^2) job; now a
# row-count gate does. The cap is sized so the guarded side stays a
# sub-minute local job; raise it deliberately, never implicitly.
EXACT_BASELINE_MAX_ROWS = 200_000


def guard_allpairs(df: DataFrame, what: str,
                   max_rows: int = EXACT_BASELINE_MAX_ROWS) -> DataFrame:
    """Refuse to build an all-pairs (O(n^2)) plan over more than
    ``max_rows`` input rows. Returns ``df`` unchanged when under the cap;
    the count costs one column-pruned scan — noise next to the quadratic
    job it prevents. For corpus-scale audits, sample the input first
    (``df.sample(...)``) or use the bucketed twin."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{what}: refusing O(n^2) all-pairs plan over {n} rows "
            f"(cap {max_rows}). Sample the input or use the bucketed "
            "scale path (SRP-LSH / IVF) instead.")
    return df


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float-array columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero vector has norm 0, which under ANSI mode is a
    # DIVIDE_BY_ZERO error; NULL matches SQL division semantics (and the
    # DuckDB oracle), and NULL scores sort last in every top-k window here
    return F.try_divide(dot(a, b), l2norm(a) * l2norm(b))


# ---------------------------------------------------------------------------
# Candidate join + exact verify: the one copy behind every LSH, prefix and
# SimHash similarity entry (plans/textops.py, plans/vector.py and the
# plans/similarity_api.py front door), and the one df-capped exact overlap.
# A second copy could silently verify a different truth;
# tests/test_single_copy.py keeps them single.
# ---------------------------------------------------------------------------

def candidate_pairs(keyed: DataFrame, id_col: str, keys: list[str],
                    c1: str, c2: str, probe: Column | None = None,
                    carry: tuple[str, ...] = (), gate: Column | None = None,
                    extra: tuple[Column, ...] = ()) -> DataFrame:
    """Distinct (c1, c2) id pairs whose rows in ``keyed`` agree on every
    ``keys`` column (band rows, prefix tokens, signature chunks) — an
    equi-join, so the only all-pairs work happens inside a key bucket.

    * ``probe=None``: self-join over the whole frame, keeping c1 < c2.
    * ``probe`` (a predicate over ``id_col``): probe-vs-index join — c1
      ranges over the rows where it holds, c2 over the rest, and every
      pair is kept (the sides are disjoint).

    Each ``carry`` column rides along as ``<name>1`` / ``<name>2`` for
    ``gate`` (a pair filter) and ``extra`` (more output columns). Both
    apply BEFORE the distinct, so only passing candidates shuffle
    through it."""
    left = keyed if probe is None else keyed.filter(probe)
    right = keyed if probe is None else keyed.filter(~probe)

    def side(df: DataFrame, c: str, sfx: str) -> DataFrame:
        return df.select(F.col(id_col).alias(c), *keys,
                         *[F.col(x).alias(x + sfx) for x in carry])

    pairs = side(left, c1, "1").join(side(right, c2, "2"), list(keys))
    if probe is None:
        pairs = pairs.filter(F.col(c1) < F.col(c2))
    if gate is not None:
        pairs = pairs.filter(gate)
    return pairs.select(c1, c2, *extra).distinct()


def capped_overlap(sh: DataFrame, cap: int,
                   cand: DataFrame | None = None) -> DataFrame:
    """(d1, d2, i, sz1, sz2) over the per-shingle frame ``sh`` (doc_id,
    sh60): ``i`` counts the shingles a doc pair shares among those with
    document frequency <= ``cap``, and sz1/sz2 are the full (uncapped)
    set sizes. The exact-overlap truth behind the df-capped jaccard and
    containment entries and their recall audits.

    * ``cand=None``: the capped shingle-keyed self-join, d1 < d2. One
      shingle in k docs contributes k^2/2 joined rows, so the cap is
      what keeps the join from going quadratic on boilerplate; it binds
      the intersection only, so a binding cap can only UNDERCOUNT
      overlap — the conservative direction for a >= gate.
    * ``cand`` (unordered d1 < d2 pairs): the same capped intersection,
      counted on those pairs only."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    rare = (sh.groupBy("sh60").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= cap).select("sh60"))
    capped = sh.join(rare, "sh60")
    s1 = capped.select(F.col("doc_id").alias("d1"), "sh60")
    s2 = capped.select(F.col("doc_id").alias("d2"), "sh60")
    shared = (s1.join(s2, "sh60").filter(F.col("d1") < F.col("d2"))
              if cand is None else
              cand.join(s1, "d1").join(s2, ["d2", "sh60"]))
    inter = shared.groupBy("d1", "d2").agg(F.count("*").alias("i"))
    return (inter
            .join(sizes.select(F.col("doc_id").alias("d1"),
                               F.col("sz").alias("sz1")), "d1")
            .join(sizes.select(F.col("doc_id").alias("d2"),
                               F.col("sz").alias("sz2")), "d2"))


def verify_jaccard_arrays(sharr: DataFrame, cand: DataFrame,
                          threshold: float, c1: str = "d1", c2: str = "d2",
                          score_col: str = "jaccard") -> DataFrame:
    """Exact set-jaccard verification of (c1, c2) candidate pairs against
    the per-doc shingle-hash ARRAY frame (doc_id, sh_arr) from
    functions.text.shingle_hash_arrays: two equi-joins attach the arrays,
    then the intersection size, set sizes and the jaccard gate are all
    ROW-LOCAL (size(array_intersect), size(arr)) — no aggregation and no
    size-lookup join. The arrays are distinct-hash sets, so the counts
    and the double division are bit-equal to the DuckDB oracle's
    explode-join/groupBy spec. A/B'd at sf0.1 against that
    explode-join/groupBy/size-join form: 0.24 s vs 0.61 s on the star
    candidate set, identical rows; at 100 TB the bytes shipped are the
    same while the (pair)-keyed exchange and both size-join exchanges
    disappear.

    ``__i`` is a NAMED column consumed by the filter and the score
    projection, so the array_intersect runs once per candidate row
    (CollapseProject keeps multi-referenced non-cheap expressions
    materialized — SPARK-36718)."""
    a1 = sharr.select(F.col("doc_id").alias(c1), F.col("sh_arr").alias("__a1"))
    a2 = sharr.select(F.col("doc_id").alias(c2), F.col("sh_arr").alias("__a2"))
    j = (cand.join(a1, c1).join(a2, c2)
         .withColumn("__i", F.size(F.array_intersect("__a1", "__a2"))))
    jac = (F.col("__i").cast("double")
           / (F.size("__a1") + F.size("__a2") - F.col("__i")).cast("double"))
    return (j.filter(jac >= F.lit(float(threshold)))
            .select(c1, c2, jac.alias(score_col)))


def l2_normed(vecs: DataFrame) -> DataFrame:
    """(vec_id, embedding, nrm): each vector's norm computed once, so a
    scored pair costs one dot product instead of three array folds."""
    return vecs.select("vec_id", "embedding",
                       l2norm(F.col("embedding")).alias("nrm"))


def verify_cosine(normed: DataFrame, threshold: float, c1: str, c2: str,
                  cand: DataFrame | None = None,
                  score_col: str = "score") -> DataFrame:
    """(c1, c2, score_col) pairs with exact cosine >= ``threshold`` over a
    :func:`l2_normed` frame. With ``cand`` the two normed sides equi-join
    onto the (c1, c2) candidates; without it they theta-join on c1 < c2
    (the all-pairs baselines).

    The score is dot / (n1 * n2) in the JVM with precomputed norms — the
    same float sequence as the oracle's dot/(sqrt*sqrt), so hash-identical.
    Not the Arrow kernel: a candidate join ships two 64-float arrays per
    PAIR, so the Arrow path pays serialization per pair and measured ~2x
    SLOWER at 100x (104 s vs 47 s); an unrolled 64-term sum is worse still
    (it exceeds the codegen method-size limit). No broadcast hint: AQE
    broadcasts the norm side when it is small and falls back to a shuffle
    join at corpus scale."""
    e1 = normed.select(F.col("vec_id").alias(c1),
                       F.col("embedding").alias("__e1"),
                       F.col("nrm").alias("__n1"))
    e2 = normed.select(F.col("vec_id").alias(c2),
                       F.col("embedding").alias("__e2"),
                       F.col("nrm").alias("__n2"))
    pairs = (e1.join(e2, F.col(c1) < F.col(c2)) if cand is None
             else cand.join(e1, c1).join(e2, c2))
    score = F.try_divide(dot(F.col("__e1"), F.col("__e2")),
                         F.col("__n1") * F.col("__n2"))
    return (pairs.select(c1, c2, score.alias(score_col))
            .filter(F.col(score_col) >= F.lit(float(threshold))))


def cosine_arrow():
    """Arrow-batched numpy cosine for HOT pair-scoring paths (verification
    joins, k-means assignment). Catalyst's higher-order functions evaluate
    `zip_with`/`aggregate` interpreted per element — profiled at 100x,
    that interpretation dominates every dense-linear-algebra stage. numpy
    does the same arithmetic vectorized, and stays HASH-IDENTICAL to the
    `cosine()` expression and the DuckDB oracle because every sum
    accumulates DIMENSIONS SEQUENTIALLY (one vectorized FMA per dimension,
    in order) — the exact float sequence of the JVM fold-left and
    `list_dot_product`. BLAS matmul / numpy pairwise summation is
    deliberately not used (reassociation could perturb the last ulp).
    Assumes equal-length vectors within a batch (the embeddings contract);
    zero-norm inputs yield NULL like `try_divide`."""
    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np
        if not len(a):
            return pd.Series([], dtype="float64")
        x = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        y = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        dp = np.zeros(len(x)); xx = np.zeros(len(x)); yy = np.zeros(len(x))
        for d in range(x.shape[1]):          # sequential over dims
            dp += x[:, d] * y[:, d]
            xx += x[:, d] * x[:, d]
            yy += y[:, d] * y[:, d]
        denom = np.sqrt(xx) * np.sqrt(yy)
        safe = np.where(denom == 0.0, 1.0, denom)
        out = np.where(denom == 0.0, np.nan, dp / safe)
        return pd.Series(out)

    return _cos


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Exact cosine top-k per query. Broadcast-join the query set against
    the corpus; rank within query with a deterministic (score desc, id asc)
    tie-break. Linear in the corpus but O(corpus x queries) in work: the
    guard caps the broadcast query side so a fat query set can't turn the
    labeled baseline into an accidental cross-join (use IVF for that)."""
    guard_allpairs(queries, "brute_force_topk query set", max_rows=10_000)
    pairs = corpus.join(F.broadcast(queries),
                        F.col(id_col) != F.col(q_id_col), "inner")
    # Arrow kernel, not the cosine() expression: same floats (sequential
    # dim accumulation), ~10x on the corpus-linear scoring stage at 100x
    scored = pairs.select(
        F.col(q_id_col), F.col(id_col),
        cosine_arrow()(F.col(vec_col), F.col(q_vec_col)).alias("score"))
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
