"""One front door for similarity joins — the library contract over the
four family implementations this engine ships:

* text + approximate  -> MinHash-LSH (probabilistic recall, S-curve
  tunable via band config; q_dedup_minhash_lsh's machinery)
* text + exact        -> prefix-filter / AllPairs (lossless by the
  prefix-filter theorem; q_prefix_filter_join's machinery)
* text + hamming      -> SimHash pigeonhole chunk join (exact recall at
  the distance bound; q_dedup_simhash's machinery, generic over the
  bound via t+1-way signature chunking)
* text + containment  -> asymmetric prefix-bound join (lossless; ordered
  (sub, super) output — the near-superset family jaccard cannot
  express; q_containment_sketch_join's machinery)
* vector              -> signed-random-projection LSH + exact-cosine
  verification (q_cosine_neardup_lsh's machinery)

``similarity_join(df, id_col, col, threshold, ...)`` dispatches by the
COLUMN TYPE (string -> jaccard families, array<numeric> -> cosine) the
way pyspark.ml's approxSimilarityJoin dispatches on its model — but as
one function with a threshold + metric contract, so a pipeline can swap
families without rewriting call sites. The q_similarity_join_api catalog
entry runs all three dispatches and hash-checks the union against the
families' INDEPENDENT oracle specs (the uncapped quadratic self-join for
prefix, the band-replay CTEs for minhash/SRP) — proving the front door
routes to the real algorithms, not to three re-labeled copies.

The family kernels (_text_banded_join, _text_prefix_join,
_text_simhash_join in textops.py; _vector_srp_join in vector.py) are
generic over input frame and threshold, and the standalone entries call
them at their module constants — the front door and the entries run the
same code. All of them share one candidate join and the exact verifies
in functions/similarity.py. Thresholds are exact-rational where they
enter integer arithmetic (the prefix-length formula) and plain float
where both engines compare floats (the jaccard / cosine verification
gates).

Reference parity: generalizes the dedup contract of
odds_data_collector.py:40-44 to a corpus-scale similarity-join API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions.hashing import (RECALL_FLOOR, minhash_band_config,
                                 oph_auto_cutover)
from ..functions.text import shingle_hash_arrays
from ..storage import park_frame, pin, stage
from .base import QueryDef, load, recall_ppm, scoped_cached_plan_aqe
from .textops import (CONTAINMENT_PCT, JACCARD_THRESHOLD, NUM_BANDS,
                      NUM_HASHES, ORACLE_MINHASH_LSH,
                      ORACLE_PREFIX_FILTER_JOIN, ORACLE_SIMHASH,
                      SIMHASH_BITS, SIMHASH_MAX_HAMMING,
                      SQL_CONTAINMENT_DIRS, _sql_shh_ctes,
                      _text_banded_join, _text_prefix_join,
                      _text_simhash_join, containment_prefix_pairs,
                      exact_jaccard_count, sql_jaccard_recall,
                      sql_minhash_pair_ctes, sql_oph_pair_ctes)
from .vector import ORACLE_COSINE_LSH, SRP_THRESHOLD, _vector_srp_join

# minhash_band_config / RECALL_FLOOR live in functions.hashing (the
# standalone dedup entries share the derivation) and are re-exported
# above for existing importers.


# Integer per-mille form of the K*ln(K) routing cutover. ONE quantization
# shared by the live router (_resolve_auto_sketch), the route-report
# column, and the report's DuckDB oracle — embedded as the SAME literal in
# the Spark plan and the oracle SQL so the hash-checked decision column is
# engine-portable (a float ln() could differ in the last ulp across libm
# builds), and compared the SAME way by the live router so a corpus whose
# exact per-mille average lands in the float-vs-floor sliver cannot get
# 'oph' from the report but 'kdraw' from the router.
ROUTE_CUTOVER_X1000 = int(oph_auto_cutover() * 1000)

# Half-width of the routing boundary band, in per-mille of the cutover:
# q_sketch_route_report only CLAIMS router/exact agreement when the exact
# avg-shingles/doc statistic sits outside cutover*(1 ± 80/1000) — i.e.
# ±8%, 4 sigma of the router's rsd=0.02 HLL estimate (at 2.5 sigma,
# ±5%, an adversarially shaped corpus still had ~1% parity-flake
# probability; at 4 sigma it is ~6e-5). Inside the band both report and
# oracle emit 'boundary' instead of a kernel name, so the parity
# attestation cannot break on a future corpus/SF whose shape lands
# within HLL error of the cutover (either kernel is fine there — the
# statistic only routes, exact verify guards correctness). The shipped corpora
# sit far outside even the widened band, so the strong live==exact claim is
# still what gets attested.
ROUTE_BOUNDARY_PM = 80


def _resolve_auto_sketch(sharr: DataFrame) -> str:
    """Route the approximate-jaccard kernel on MEASURED corpus shape
    (the OPH-vs-k-draw guideline as code): ONE
    aggregate over the already-computed (and cached) shingle frame —
    count(*) beside an HLL approx_count_distinct(doc_id), a single-pass
    partial-agg reduce, no re-shuffle of the data, one bounded driver
    row — gives avg shingles/doc. At/above the K*ln(K) slot-fill
    cutover (functions.hashing.oph_auto_cutover: ~266 at 64 bins) every
    slot of an average doc's OPH sketch is expected filled, the
    densification correlation vanishes and the 1-update-per-shingle
    sketch pass wins (measured 5.6x on long docs); below it k-draw
    avoids the borrowed-slot candidate skew (measured 2x entry-level on
    short docs). The statistic only ROUTES — both kernels verify every
    candidate with exact jaccard downstream — so the ~2% HLL error can
    nudge the cutover point, never correctness. The rsd is pinned at
    0.02 because Spark's approx_count_distinct DEFAULT is 0.05 — left
    implicit, the divergence band would be 2.5x wider than this
    docstring (and q_sketch_route_report's parity argument) states. An
    empty corpus routes to k-draw (either
    kernel yields no rows).

    The comparison is the integer per-mille form n*1000 >= d *
    ROUTE_CUTOVER_X1000 — the SAME quantized cutover the route report
    and its oracle use, so all three share one decision boundary; a
    float K*ln(K) compare would leave a truncated sliver (exact
    per-mille avg in [floor(c*1000), c*1000)) where the report said
    'oph' but the router picked 'kdraw'.

    The statistic is computed from the per-doc ARRAY frame —
    n = sum(size(sh_arr)) equals an exploded count(*) exactly, and
    the HLL sketch over doc_id is insert-idempotent (adding a doc once
    or once-per-shingle writes the same registers), so d is the
    identical estimate; empty-array docs are filtered like the explode
    dropped them. Same integers, |docs| aggregate rows instead of
    |shingles|."""
    row = (sharr.filter(F.size("sh_arr") > 0)
           .agg(F.sum(F.size("sh_arr")).alias("n"),
                F.approx_count_distinct("doc_id", rsd=0.02)
                .alias("d")).first())
    if not row["d"]:
        return "kdraw"
    return ("oph" if row["n"] * 1000 >= row["d"] * ROUTE_CUTOVER_X1000
            else "kdraw")


def similarity_join(df: DataFrame, id_col: str, col: str, threshold: float,
                    metric: str = "auto", exact: bool = False,
                    shingles: DataFrame | None = None,
                    sketch: str = "auto") -> DataFrame:
    """Self-similarity join: all (id1, id2, score) pairs with id1 < id2
    and similarity >= ``threshold`` over ``df[col]`` — except
    ``metric='containment'``, the one ASYMMETRIC family, whose output
    is ordered (id1=sub, id2=super; both directions for exact dups).

    * ``metric='auto'`` resolves by column type: string -> 'jaccard'
      (3-gram shingle sets), array<float/double> -> 'cosine'.
      'containment' is explicit-only (a string column admits both text
      families; the symmetric one is the default).
    * jaccard + ``exact=False`` -> MinHash-LSH (probabilistic recall —
      the band config is DERIVED from the threshold via
      minhash_band_config so the S-curve clears RECALL_FLOOR at the
      caller's t, not at a module constant; measured at t=0.8 by
      q_minhash_recall_audit and t=0.5 by q_minhash_recall_t05).
      jaccard + ``exact=True`` -> prefix-filter
      join (lossless, join-bounded). ``sketch`` picks the
      approximate-jaccard kernel: ``'auto'`` (the default) routes on
      the MEASURED corpus shape — avg shingles/doc vs the K*ln(K)
      slot-fill cutover, one aggregate over the already-computed
      shingle frame (see _resolve_auto_sketch) — between ``'kdraw'``
      (classic 64-draw MinHash; wins on short fragments, where OPH's
      densified slots correlate across bands) and ``'oph'``
      (One-Permutation Hashing: one draw per shingle instead of 64, so
      per-shingle sketch CPU is 64x lower at a fixed per-doc assembly
      cost — wins on long-doc corpora, measured 5.6x; trade in
      functions.hashing.oph_bands_fast, recall audited by
      q_oph_recall_audit/q_oph_recall_t05).
      The knob is only meaningful on that path, so any other dispatch
      rejects an explicit kernel rather than silently ignoring it
      (the exact-flag rule); ``'auto'`` is accepted everywhere because
      it is the default.

      Two consequences of the ``'auto'`` default for jaccard callers
      who never asked for routing: (1) plan construction is not fully
      lazy — resolving the route runs ONE eager driver aggregate
      (count + HLL distinct over the shingle frame, a single bounded
      row) before the joined plan is returned; (2) the chosen kernel —
      hence the approximate CANDIDATE set and recall profile — is
      corpus-shape-dependent. Result PRECISION is unchanged (every
      candidate is exact-verified downstream) and both kernels'
      recall is audited (q_*_recall_audit / _t05). Callers who need a
      lazy, corpus-independent plan pin ``sketch='kdraw'`` (or
      ``'oph'``) — a pinned kernel skips the routing aggregate
      entirely.
      cosine -> SRP-LSH (recall audited by
      q_lsh_recall_audit). ``metric='hamming'`` -> SimHash pigeonhole
      chunk join over a string column; for this family ``threshold`` is
      the MAXIMUM DISTANCE (pyspark.ml approxSimilarityJoin's distance
      convention) and ``score`` is the hamming distance — exact recall
      by the pigeonhole theorem at any bound. Every path is
      candidates-by-equi-join + exact verification: linear scans at
      100 TB, never all-pairs.
    * The frames each kernel caches (shingle arrays, band sketches,
      norm tables) are pinned (storage.pin): they live until the
      caller's next plans.base.release_deferred(), or the end of an
      enclosing storage.stage().
    * ``shingles``: a precomputed cached frame from
      ``shingle_hash_arrays(df, id_col, col)`` (aliased doc_id/sh_arr,
      one hash array per doc; kernels that need per-shingle rows derive
      them with a row-local explode), so a caller running
      several text dispatches over one corpus shingles it once —
      passing it twice would otherwise re-cache an identical plan (a
      CacheManager no-op whose unpersist fires twice).

    Peak-spill note for multi-family callers: the
    returned frame is lazy, so UNIONING several dispatches and executing
    the union as one job runs every family's shuffles CONCURRENTLY —
    peak shuffle disk is the SUM of the families. A disk-constrained
    deployment should stage family by family, bounding peak spill at
    max(family): that is :func:`similarity_join_staged` (each result
    filled into a cache and its own pins released before the next
    dispatch). Measured at the 100x replica: the monolithic
    4-family union exceeded a 78 GB local spill budget that per-family
    staging stayed well inside (34.7 GB peak).
    """
    dt = df.schema[col].dataType
    if metric == "auto":
        if isinstance(dt, T.StringType):
            metric = "jaccard"
        elif (isinstance(dt, T.ArrayType)
              and isinstance(dt.elementType,
                             (T.FloatType, T.DoubleType))):
            metric = "cosine"
        else:
            raise ValueError(
                f"no similarity metric for column type {dt.simpleString()}; "
                f"pass metric= explicitly")
    if sketch not in ("auto", "kdraw", "oph"):
        raise ValueError(f"unknown sketch {sketch!r} "
                         "(expected 'auto', 'kdraw' or 'oph')")
    if sketch != "auto" and (exact or metric != "jaccard"):
        # the sketch knob only selects the approximate-jaccard kernel;
        # silently ignoring an EXPLICIT kernel elsewhere would let a
        # caller believe that kernel ran (the exact-flag rule); 'auto'
        # passes because it is the default, not a request
        raise ValueError(
            f"sketch={sketch!r} only applies to metric='jaccard' with "
            f"exact=False; got metric={metric!r}, exact={exact!r}")
    if metric in ("jaccard", "containment"):
        if not isinstance(dt, T.StringType):
            raise ValueError(f"metric={metric!r} needs a string column")
        sharr = shingles
        if sharr is None:
            sharr = pin(shingle_hash_arrays(
                df.select(F.col(id_col).alias("doc_id"),
                          F.col(col).alias("text")),
                "doc_id", "text", n=3))
        if metric == "containment":
            # ASYMMETRIC family: ordered (id1=sub,
            # id2=super) pairs with |S_sub ∩ S_super| / |S_sub| >=
            # threshold — the only family whose output is NOT id1 < id2
            # canonical (each exact-dup pair emits both directions by
            # definition). One kernel, the lossless prefix bound
            # (containment_prefix_pairs), so the exact flag is accepted
            # either way: exact=True promises losslessness and that is
            # what always runs — there is no approximate kernel to
            # select, hence also no sketch knob (rejected above like
            # every non-jaccard metric). Threshold maps to the integer
            # per-mille gate; the float never touches the decision.
            t_pm = int(round(threshold * 1000))
            if not 0 < t_pm <= 1000:
                raise ValueError(
                    f"containment threshold must be in (0, 1], "
                    f"got {threshold!r}")
            # the df-capped prefix kernel needs per-shingle rows (global
            # df counts + the capped index): derive them from the cached
            # arrays with one row-local explode
            pairs = containment_prefix_pairs(
                sharr.select("doc_id", F.explode("sh_arr").alias("sh60")),
                t_pm)
            return pairs.select(
                F.col("sub_doc_id").alias("id1"),
                F.col("super_doc_id").alias("id2"),
                F.round(F.col("i").cast("double")
                        / F.col("sz_sub").cast("double"), 6)
                 .alias("score"))
        if exact:
            return _text_prefix_join(sharr, threshold)
        if sketch == "auto":
            sketch = _resolve_auto_sketch(sharr)
        return _text_banded_join(sharr, threshold, sketch)
    if exact:
        # the simhash chunk join is already exact AT THE BOUND and the
        # SRP path has no lossless variant — silently ignoring the flag
        # would let a caller believe they got one
        raise ValueError(
            f"exact=True is only meaningful for metric='jaccard' "
            f"(prefix-filter join) or metric='containment' (always "
            f"exact); metric={metric!r} has no exact variant")
    if metric == "hamming":
        if not isinstance(dt, T.StringType):
            raise ValueError("metric='hamming' needs a string column")
        t = int(threshold)
        if not 0 <= t < SIMHASH_BITS:
            raise ValueError(
                f"hamming threshold must be in [0, {SIMHASH_BITS}), "
                f"got {threshold!r}")
        std = df.select(F.col(id_col).alias("doc_id"),
                        F.col(col).alias("text"))
        return _text_simhash_join(std, t)
    if metric == "cosine":
        std = df.select(F.col(id_col).alias("vec_id"),
                        F.col(col).alias("embedding"))
        return _vector_srp_join(std, threshold)
    raise ValueError(f"unknown metric {metric!r} (expected 'jaccard', "
                     "'containment', 'hamming' or 'cosine')")


def similarity_join_staged(specs: list[dict]) -> DataFrame:
    """Family-SEQUENTIAL multi-family similarity join (the code form of
    the peak-spill remedy similarity_join's docstring prescribes in
    prose): dispatch each family through :func:`similarity_join` and
    fill its tagged result into a cache inside one ``storage.stage()``,
    so the family's own pins are released before the next family
    dispatches, then return the union of the cached parts. The parts
    are parked on the storage ledger, so they live until the next entry
    starts or the runner's next release_deferred().

    Because each family's shuffles complete before the next family
    starts, peak shuffle-spill disk is **max(family)** instead of the
    **sum(families)** a monolithic lazy union pays when one job runs
    every family's shuffles concurrently (measured: the monolithic
    4-family union exceeded a 78 GB local spill budget at the 100x
    replica that per-family staging stayed well inside, 34.7 GB peak;
    the trade is that each text family re-shingles its
    corpus, one extra linear scan per family, instead of sharing one
    pinned shingle cache across concurrently-running families).

    ``specs``: one dict per family, keys ``family`` (output tag),
    ``df``, ``id_col``, ``col``, ``threshold``, and optionally
    ``metric`` / ``exact`` / ``sketch`` / ``shingles``
    (similarity_join's contract). Output schema is
    q_similarity_join_api's union: (family, id1, id2,
    score double rounded 6).

    ``shingles``: a caller running several TEXT families over ONE
    corpus can pass the same precomputed cached frame from
    ``shingle_hash_arrays`` on each such spec, trading the staged
    form's one re-shingling linear scan per family (the +27% wall
    premium measured at the 10x replica) for a pinned cache that lives
    ACROSS the family barriers — i.e. peak storage is no longer strictly
    max(family): the shingle frame's blocks add to every family's peak.
    The caller owns that frame's lifetime: it was cached outside every
    family's stage, so no barrier releases it; release it after the
    union is consumed. Measured at the 10x replica (4-family staged
    run, fresh session per mode): 169.8 s re-shingling per family vs
    109.8 s sharing a 21.9 MB shingle cache, the same 711,291 rows and
    the same 0.10 GB scratch peak."""
    if not specs:
        raise ValueError("similarity_join_staged: empty spec list")
    parts: list[DataFrame] = []
    for spec in specs:
        # the staging barrier: this family's shuffles run to completion
        # and its pins release before the next dispatch is even built
        with stage():
            res = similarity_join(
                spec["df"], spec["id_col"], spec["col"], spec["threshold"],
                metric=spec.get("metric", "auto"),
                exact=bool(spec.get("exact", False)),
                shingles=spec.get("shingles"),
                sketch=spec.get("sketch", "auto"))
            tagged = res.select(
                F.lit(spec["family"]).alias("family"), "id1", "id2",
                F.round(F.col("score").cast("double"), 6).alias("score"))
            part = tagged.cache()
            part.count()
        park_frame(part)
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_similarity_join_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract test for the similarity-join front door: run all four
    dispatches (minhash, prefix, simhash-hamming, SRP — by column type /
    exact flag / metric) at the families' standard thresholds and union
    the tagged results. The oracle is the UNION ALL of the four
    families' INDEPENDENT oracle specs, so a hash match proves the
    dispatcher reaches each real algorithm end-to-end."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    # sketch pinned: this entry's oracle replays k-draw banding, and an
    # oracle must never depend on a data-dependent route (the 'auto'
    # default would route here on corpus shape; its attestation lives in
    # q_sketch_route_report)
    #
    # Every family's caches (sharr, bands, prefix table, simhash
    # signatures, SRP norms) fill in the union's own job, which runs the
    # four families' stages concurrently. The STAGED entry
    # (q_similarity_join_staged) runs them one family at a time — its
    # contract is bounding peak storage to max(family), the opposite
    # trade.
    mh = similarity_join(docs, "doc_id", "text", JACCARD_THRESHOLD,
                         shingles=sharr, sketch="kdraw")
    pf = similarity_join(docs, "doc_id", "text", JACCARD_THRESHOLD,
                         exact=True, shingles=sharr)
    hm = similarity_join(docs, "doc_id", "text", SIMHASH_MAX_HAMMING,
                         metric="hamming")
    sp = similarity_join(emb, "vec_id", "embedding", SRP_THRESHOLD)

    def tag(dfp: DataFrame, family: str) -> DataFrame:
        # hamming scores are exact-int distances; the double cast makes
        # the union (and the oracle's ::DOUBLE twin) type-stable
        return dfp.select(F.lit(family).alias("family"), "id1", "id2",
                          F.round(F.col("score").cast("double"), 6)
                           .alias("score"))

    return (tag(mh, "jaccard_minhash")
            .unionByName(tag(pf, "jaccard_prefix"))
            .unionByName(tag(hm, "hamming_simhash"))
            .unionByName(tag(sp, "cosine_srp")))


def q_similarity_join_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged (family-SEQUENTIAL) similarity join as a checked
    catalog entry, so the deployment-shape answer to the engine's one
    measured spill hazard is oracle-checked, not library-only: the
    same four family dispatches as q_similarity_join_api, but run
    through similarity_join_staged so each family fills its cached part
    and releases its pins BEFORE the next family dispatches — peak
    shuffle-spill disk is max(family), not sum(families) (measured at
    the 100x replica: 34.7 GB peak vs the monolith's >78 GB budget
    blow).
    The oracle is the identical UNION ALL of the four families'
    independent specs, so a hash match proves staging changes the
    execution SHAPE and nothing about the result. Text specs pin
    sketch='kdraw' explicitly (the oracle replays k-draw banding; the
    default 'auto' routes there on this corpus, but the oracle must not
    depend on a data-dependent route)."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    return similarity_join_staged([
        {"family": "jaccard_minhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD,
         "sketch": "kdraw"},
        {"family": "jaccard_prefix", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD, "exact": True},
        {"family": "hamming_simhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": SIMHASH_MAX_HAMMING,
         "metric": "hamming"},
        {"family": "cosine_srp", "df": emb, "id_col": "vec_id",
         "col": "embedding", "threshold": SRP_THRESHOLD},
    ])


@scoped_cached_plan_aqe
def q_similarity_containment_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract test for the containment dispatch through the
    similarity_join front door, so containment is not reachable solely
    as a standalone entry:
    ``metric='containment'`` at the standard 0.90 gate over documents,
    tagged with the family literal like q_similarity_join_api's union
    rows. The oracle is the INDEPENDENT df-capped quadratic containment
    spec with the front door's (id1, id2, score) aliases, so a hash
    match proves the dispatcher reaches the real prefix-bound kernel
    end-to-end AND that the kernel is lossless vs the self-join spec.
    score is ROUND(i/sz_sub, 6) double — the same organically-computed-
    ratio rounding every jaccard/SRP family entry uses (plans.base rule
    7's tolerated form)."""
    docs = load(spark, sf_dir, "documents")
    res = similarity_join(docs, "doc_id", "text", CONTAINMENT_PCT / 100,
                          metric="containment")
    return res.select(F.lit("containment").alias("family"),
                      "id1", "id2", "score")


ORACLE_CONTAINMENT_API = f"""
WITH {SQL_CONTAINMENT_DIRS}
SELECT 'containment' AS family, sub AS id1, sup AS id2,
       ROUND(i::DOUBLE / sz_sub::DOUBLE, 6) AS score
FROM dirs
"""


# ROUTE_CUTOVER_X1000 / ROUTE_BOUNDARY_PM are defined next to
# _resolve_auto_sketch above: router, report, and oracle share them.


def q_sketch_route_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch='auto' routing decision as a checked catalog entry: the
    corpus-shape statistic (shingle rows, distinct docs, avg shingles/doc
    in exact per-mille integers), the kernel the K*ln(K) cutover selects
    from the EXACT statistic, and the kernel the LIVE router
    (_resolve_auto_sketch — HLL approx_count_distinct, the code the
    'auto' default actually runs) selected on this corpus. The oracle
    recomputes the exact statistic and predicts both columns from it, so
    a parity match additionally PROVES the HLL-based live decision
    agrees with the exact-statistic decision on this corpus.

    The routed_kernel parity claim is GATED: the live value
    is HLL-estimated (rsd 0.02), so on a corpus whose exact avg
    shingles/doc lands within HLL error of the cutover the live and
    exact decisions can legitimately differ — both kernels are fine
    there (the statistic only routes; every candidate is exact-verified
    downstream), but the old unconditional oracle prediction would have
    read the benign divergence as a parity FAILURE on any future
    corpus/SF with that shape. Both engines therefore emit the literal
    'boundary' whenever the exact statistic sits within
    ROUTE_BOUNDARY_PM per-mille (±8%, 4 sigma of the HLL estimate) of
    the cutover, and assert live==exact agreement only outside it. On
    the shipped corpora the statistic is far outside the band, so the
    strong claim is what actually gets attested."""
    docs = load(spark, sf_dir, "documents")
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    routed = _resolve_auto_sketch(sharr)   # the live router, HLL statistic
    in_band = F.expr(
        f"abs(n_shingles * 1000 - n_docs * {ROUTE_CUTOVER_X1000}) * 1000 "
        f"<= n_docs * {ROUTE_CUTOVER_X1000} * {ROUTE_BOUNDARY_PM}")
    # exact statistic from the array frame: sum(size) == the exploded
    # count(*), countDistinct over non-empty docs == the exploded
    # countDistinct (the explode dropped empty docs) — same integers
    return (sharr.filter(F.size("sh_arr") > 0)
            .agg(F.sum(F.size("sh_arr")).alias("n_shingles"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .select(
                "n_shingles", "n_docs",
                F.expr("n_shingles * 1000 div n_docs")
                 .alias("avg_shingles_x1000"),
                F.when(F.expr(f"n_shingles * 1000 >= "
                              f"n_docs * {ROUTE_CUTOVER_X1000}"),
                       F.lit("oph")).otherwise(F.lit("kdraw"))
                 .alias("kernel"),
                F.when(in_band, F.lit("boundary"))
                 .otherwise(F.lit(routed)).alias("routed_kernel")))


ORACLE_SKETCH_ROUTE_REPORT = f"""
WITH {_sql_shh_ctes()},
stats AS (SELECT COUNT(*) AS n_shingles,
                 COUNT(DISTINCT doc_id) AS n_docs FROM shh)
SELECT n_shingles, n_docs,
       n_shingles * 1000 // n_docs AS avg_shingles_x1000,
       CASE WHEN n_shingles * 1000 >= n_docs * {ROUTE_CUTOVER_X1000}
            THEN 'oph' ELSE 'kdraw' END AS kernel,
       CASE WHEN abs(n_shingles * 1000 - n_docs * {ROUTE_CUTOVER_X1000})
                 * 1000
                 <= n_docs * {ROUTE_CUTOVER_X1000} * {ROUTE_BOUNDARY_PM}
            THEN 'boundary'
            WHEN n_shingles * 1000 >= n_docs * {ROUTE_CUTOVER_X1000}
            THEN 'oph' ELSE 'kdraw' END AS routed_kernel
FROM stats
"""


# --- sketch='auto' selecting OPH, end to end ----------------------------
# q_sketch_route_report attests the routing DECISION and the OPH entries
# pin the kernel, but no driver-checked entry ran the 'auto' default and
# had it SELECT OPH end-to-end. This fixture makes that route static by
# construction: 32 consecutive documents concatenate into one super-doc,
# so avg shingles/doc is ~32x the corpus's measured ~52 (minus cross-doc
# overlap — >=800 even at 50% overlap), >=3x the ~266 K*ln(K) cutover at
# every SF. Flipping the route would need member docs averaging < ~8.3
# distinct shingles (~10 words) — an order of magnitude below the
# generator's shape — and the router's ±2% HLL error cannot bridge a 3x
# margin. Each super-doc is unioned with an id-offset replica so the
# verified pair set is non-empty and deterministic (one jaccard-1.0 pair
# per super-doc at minimum).
AUTO_ROUTE_GROUP = 32
# Replica-id offset far above any reachable super-doc gid: doc_ids are
# bigint, so 2^40 leaves no collision cliff — the old 1e6 offset would
# have silently merged a base super-doc with a replica one on any corpus
# island holding >= 32M consecutive doc_ids (both engines replay the same
# fixture, so parity would NOT have caught the merged ids).
AUTO_ROUTE_OFFSET = 1 << 40


def q_auto_route_oph_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_join's default sketch='auto' path with the router
    selecting OPH, attested end-to-end: build the long-doc fixture
    (static-route argument in the module comment above), dispatch
    through the SAME front door a user calls with the DEFAULT kernel
    knob, and emit the verified pair set plus the routed kernel. The
    oracle replays OPH banding (sql_oph_pair_ctes) over the identical
    fixture CTE and pins routed_kernel to the literal 'oph' — so a
    route flip fails parity on the column even when both kernels'
    verified pair sets coincide (exact verification makes them agree on
    everything but recall). The routed value is recomputed via
    _resolve_auto_sketch on the same cached shingle frame the front
    door receives — the same deterministic statistic the internal
    dispatch runs."""
    docs = load(spark, sf_dir, "documents")
    g = (docs.groupBy(F.expr(f"doc_id div {AUTO_ROUTE_GROUP}").alias("gid"))
         .agg(F.array_sort(F.collect_list(F.struct("doc_id", "text")))
              .alias("m")))
    sup = g.select(F.col("gid").alias("doc_id"),
                   F.array_join(F.col("m.text"), " ").alias("text"))
    corpus = sup.unionByName(
        sup.select((F.col("doc_id") + AUTO_ROUTE_OFFSET).alias("doc_id"),
                   "text"))
    sharr = pin(shingle_hash_arrays(corpus, "doc_id", "text", n=3))
    routed = _resolve_auto_sketch(sharr)
    pairs = similarity_join(corpus, "doc_id", "text", JACCARD_THRESHOLD,
                            shingles=sharr, sketch="auto")
    return pairs.select(F.col("id1").alias("d1"), F.col("id2").alias("d2"),
                        F.round(F.col("score"), 6).alias("jaccard"),
                        F.lit(routed).alias("routed_kernel"))


ORACLE_AUTO_ROUTE_OPH = f"""
WITH sup AS (
  SELECT doc_id // {AUTO_ROUTE_GROUP} AS gid,
         string_agg(text, ' ' ORDER BY doc_id) AS text
  FROM documents GROUP BY 1),
corpus AS (
  SELECT gid AS doc_id, text FROM sup
  UNION ALL
  SELECT gid + {AUTO_ROUTE_OFFSET}, text FROM sup),{sql_oph_pair_ctes(
      NUM_HASHES, NUM_BANDS, JACCARD_THRESHOLD, rel="corpus")}
SELECT d1, d2, ROUND(jaccard, 6) AS jaccard, 'oph' AS routed_kernel
FROM pairs
"""


MINHASH_T05 = 0.5
_T05_HASHES, _T05_BANDS = minhash_band_config(MINHASH_T05)


def q_minhash_recall_t05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the threshold-DERIVED band config at a second
    threshold (the validation leg of deriving bands from the threshold):
    exact all-pairs
    jaccard >= 0.5 (the df-capped shingle self-join, the same baseline
    as q_minhash_recall_audit) vs the similarity_join front door at
    threshold=0.5, which minhash_band_config resolves to 64 hashes / 32
    bands (rows-per-band 2: catch probability at j=0.5 is
    1-(1-0.25)^32 ~ 0.9999, vs ~64% under the 0.8-tuned 16x4 config the
    front door used to hardcode). Verified LSH pairs pass the same
    exact-jaccard gate, so recall_ppm = |lsh| * 1e6 / |exact| and must
    sit at/above the S-curve floor."""
    docs = load(spark, sf_dir, "documents")
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    exact = exact_jaccard_count(
        sharr.select("doc_id", F.explode("sh_arr").alias("sh60")),
        MINHASH_T05)
    # sketch pinned: this audit's stated purpose is measuring the K-DRAW
    # 64x32 band config (q_oph_recall_t05 is the OPH twin) and its
    # oracle replays k-draw banding — the 'auto' default would silently
    # measure OPH under the 'minhash' label on a long-doc corpus
    lsh = similarity_join(docs, "doc_id", "text", MINHASH_T05,
                          shingles=sharr, sketch="kdraw").agg(
        F.count("*").alias("n_lsh"))
    return recall_ppm(exact, lsh, "n_exact", "n_lsh")


ORACLE_MINHASH_RECALL_T05 = sql_jaccard_recall(
    sql_minhash_pair_ctes(_T05_HASHES, _T05_BANDS, MINHASH_T05),
    MINHASH_T05, "n_lsh")


def q_oph_recall_t05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPH recall at the second threshold — the audit that decides
    whether the cheaper sketch stays safe when the banding loosens.
    t=0.5 derives to 64 slots / 32 bands (rows-per-band 2), where a
    LOW-fill doc's densified slots are most likely to dominate a 2-row
    band key — exactly the correlation regime the short-doc replica
    analysis flagged — so the independent S-curve argument is weakest
    here and the measured number is the load-bearing one. Same
    exact-pair truth (df-capped quadratic self-join at 0.5) and
    integer-ppm discipline as every other recall audit; the sketch runs
    through the same front door a user calls (sketch='oph')."""
    docs = load(spark, sf_dir, "documents")
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    exact = exact_jaccard_count(
        sharr.select("doc_id", F.explode("sh_arr").alias("sh60")),
        MINHASH_T05)
    oph = similarity_join(docs, "doc_id", "text", MINHASH_T05,
                          shingles=sharr, sketch="oph").agg(
        F.count("*").alias("n_oph"))
    return recall_ppm(exact, oph, "n_exact", "n_oph")


ORACLE_OPH_RECALL_T05 = sql_jaccard_recall(
    sql_oph_pair_ctes(_T05_HASHES, _T05_BANDS, MINHASH_T05),
    MINHASH_T05, "n_oph")


def _wrap(oracle: str, family: str, c1: str, c2: str, sc: str) -> str:
    return (f"SELECT '{family}' AS family, {c1} AS id1, {c2} AS id2, "
            f"{sc} AS score FROM ({oracle})")


ORACLE_SIMILARITY_JOIN_API = (
    _wrap(ORACLE_MINHASH_LSH, "jaccard_minhash", "d1", "d2", "jaccard")
    + "\nUNION ALL\n"
    + _wrap(ORACLE_PREFIX_FILTER_JOIN, "jaccard_prefix", "d1", "d2",
            "jaccard")
    + "\nUNION ALL\n"
    + _wrap(ORACLE_SIMHASH, "hamming_simhash", "d1", "d2",
            "hamming::DOUBLE")
    + "\nUNION ALL\n"
    + _wrap(ORACLE_COSINE_LSH, "cosine_srp", "v1", "v2", "cosine"))


API_QUERIES = [
    QueryDef("similarity_join_api", q_similarity_join_api,
             ORACLE_SIMILARITY_JOIN_API, "LLM-dedup-api", bench=True),
    QueryDef("similarity_join_staged", q_similarity_join_staged,
             ORACLE_SIMILARITY_JOIN_API, "LLM-dedup-api-staged"),
    QueryDef("similarity_containment_api", q_similarity_containment_api,
             ORACLE_CONTAINMENT_API, "LLM-dedup-api-containment"),
    QueryDef("sketch_route_report", q_sketch_route_report,
             ORACLE_SKETCH_ROUTE_REPORT, "LLM-dedup-api-route"),
    QueryDef("auto_route_oph_join", q_auto_route_oph_join,
             ORACLE_AUTO_ROUTE_OPH, "LLM-dedup-api-route-oph"),
    QueryDef("minhash_recall_t05", q_minhash_recall_t05,
             ORACLE_MINHASH_RECALL_T05, "LLM-dedup-minhash-recall"),
    QueryDef("oph_recall_t05", q_oph_recall_t05,
             ORACLE_OPH_RECALL_T05, "LLM-dedup-oph-recall"),
]
