"""similarity_join front-door contract (plans/similarity_api.py): type
dispatch, fail-fast on undispatchable input, and family equivalence —
each route must reproduce the standalone family entry it claims to."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nfl_data_engineering_spark.plans.base import load, release_deferred
from nfl_data_engineering_spark.plans.similarity_api import (
    RECALL_FLOOR, minhash_band_config, similarity_join)
from nfl_data_engineering_spark.plans.textops import (JACCARD_THRESHOLD,
                                                      NUM_BANDS, NUM_HASHES,
                                                      SIMHASH_MAX_HAMMING)
from nfl_data_engineering_spark.plans.vector import SRP_THRESHOLD


def test_dispatch_errors(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="no similarity metric"):
        similarity_join(docs, "doc_id", "doc_id", 0.8)   # bigint column
    with pytest.raises(ValueError, match="needs a string column"):
        similarity_join(emb, "vec_id", "embedding", 0.8, metric="jaccard")
    with pytest.raises(ValueError, match="unknown metric"):
        similarity_join(docs, "doc_id", "text", 0.8, metric="levenshtein")
    with pytest.raises(ValueError, match="needs a string column"):
        similarity_join(emb, "vec_id", "embedding", 3, metric="hamming")
    with pytest.raises(ValueError, match="hamming threshold"):
        similarity_join(docs, "doc_id", "text", 60, metric="hamming")
    # exact=True has no meaning outside the jaccard/prefix family —
    # silently ignoring it would fake a lossless guarantee
    with pytest.raises(ValueError, match="exact=True"):
        similarity_join(docs, "doc_id", "text", 3, metric="hamming",
                        exact=True)
    with pytest.raises(ValueError, match="exact=True"):
        similarity_join(emb, "vec_id", "embedding", 0.8, exact=True)


def test_band_config_derivation():
    """The threshold->band derivation: the proven
    configs at the two measured thresholds, the S-curve floor honored by
    every returned config, precision monotonicity (higher threshold ->
    never more bands), and the r=1 fallback when even 64 bands cannot
    reach the floor."""
    assert minhash_band_config(JACCARD_THRESHOLD) == (NUM_HASHES, NUM_BANDS)
    assert minhash_band_config(0.5) == (64, 32)
    prev_bands = None
    for t in (0.05, 0.2, 0.35, 0.5, 0.65, 0.8, 0.9, 0.95):
        n, b = minhash_band_config(t)
        assert n == NUM_HASHES and NUM_HASHES % b == 0
        r = n // b
        recall_at_t = 1.0 - (1.0 - t ** r) ** b
        # floor holds except in the explicit r=1 fallback regime
        assert recall_at_t >= RECALL_FLOOR or b == NUM_HASHES, (t, b)
        if prev_bands is not None:
            assert b <= prev_bands, "bands must not grow with threshold"
        prev_bands = b
    # very low threshold: no config clears the floor; max-recall fallback
    assert minhash_band_config(0.01) == (NUM_HASHES, NUM_HASHES)
    # non-power-of-two budgets use every divisor: 48 hashes at t=0.5 must
    # resolve to 24 bands of r=2 (1-(1-0.25)^24 ~ 0.999), not the r=1
    # fallback the old powers-of-two walk fell through to
    assert minhash_band_config(0.5, num_hashes=48) == (48, 24)


def test_standalone_entries_share_band_derivation():
    """The standalone minhash entries (dedup_minhash_lsh,
    incremental_corpus_dedup and everything else built on textops.NUM_BANDS,
    including the SQL oracle CTEs) must route through the SAME
    threshold->band derivation as the front door — a module constant pinned
    at 16 would silently re-inherit 0.8-tuned recall if JACCARD_THRESHOLD
    were ever re-tuned."""
    from nfl_data_engineering_spark.functions import hashing
    from nfl_data_engineering_spark.plans import textops
    # single source of truth: the re-export is the same object
    assert minhash_band_config is hashing.minhash_band_config
    # textops' band count is the derivation's output at its threshold...
    assert textops.NUM_BANDS == hashing.minhash_band_config(
        textops.JACCARD_THRESHOLD, textops.NUM_HASHES)[1]
    # ...which at the current 0.8 threshold is the proven 64x16 config,
    # so every hash-checked output is unchanged by the fold
    assert (textops.NUM_HASHES, textops.NUM_BANDS) == (64, 16)
    # and the SQL oracle CTEs were built from the derived count (the
    # rows-per-band fold `seed // r` with r = n/b)
    r = textops.NUM_HASHES // textops.NUM_BANDS
    assert f"seed // {r} AS band" in textops._SQL_MINHASH_BAND_CTES


def _pairs(df):
    return {(r["id1"], r["id2"]) for r in df.select("id1", "id2").collect()}


def test_families_match_standalone_entries(spark, sf_dir):
    """auto-dispatch (string -> minhash, exact -> prefix, array ->
    SRP-cosine) must yield the same pair sets as the standalone catalog
    entries at the same thresholds."""
    from nfl_data_engineering_spark.plans.registry import _BY_NAME

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    mh = _pairs(similarity_join(docs, "doc_id", "text", JACCARD_THRESHOLD))
    pf = _pairs(similarity_join(docs, "doc_id", "text", JACCARD_THRESHOLD,
                                exact=True))
    hm = _pairs(similarity_join(docs, "doc_id", "text", SIMHASH_MAX_HAMMING,
                                metric="hamming"))
    sp = _pairs(similarity_join(emb, "vec_id", "embedding", SRP_THRESHOLD))
    release_deferred()

    ref_mh = {(r["d1"], r["d2"]) for r in
              _BY_NAME["dedup_minhash_lsh"].spark(spark, sf_dir).collect()}
    ref_pf = {(r["d1"], r["d2"]) for r in
              _BY_NAME["prefix_filter_join"].spark(spark, sf_dir).collect()}
    ref_hm = {(r["d1"], r["d2"]) for r in
              _BY_NAME["dedup_simhash"].spark(spark, sf_dir).collect()}
    ref_sp = {(r["v1"], r["v2"]) for r in
              _BY_NAME["cosine_neardup_lsh"].spark(spark, sf_dir).collect()}
    release_deferred()
    assert mh == ref_mh
    assert pf == ref_pf
    assert hm == ref_hm
    assert sp == ref_sp
    # prefix filter is lossless; minhash is probabilistic — on this corpus
    # the near-dup clusters are exact enough that both find the same set
    assert pf, "expected at least one near-dup pair in testdata"


def test_oph_sketch_route(spark, sf_dir):
    """sketch='oph' must reproduce the standalone dedup_minhash_oph
    entry's verified pair set, and the knob must fail fast on every
    dispatch it does not select (the exact-flag rule: silently ignoring
    it would let a caller believe the cheaper sketch ran)."""
    from nfl_data_engineering_spark.plans.registry import _BY_NAME

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    oph = _pairs(similarity_join(docs, "doc_id", "text", JACCARD_THRESHOLD,
                                 sketch="oph"))
    release_deferred()
    ref = {(r["d1"], r["d2"]) for r in
           _BY_NAME["dedup_minhash_oph"].spark(spark, sf_dir).collect()}
    release_deferred()
    assert oph == ref and oph

    with pytest.raises(ValueError, match="unknown sketch"):
        similarity_join(docs, "doc_id", "text", 0.8, sketch="hnsw")
    with pytest.raises(ValueError, match="sketch='oph' only applies"):
        similarity_join(docs, "doc_id", "text", 0.8, exact=True,
                        sketch="oph")
    with pytest.raises(ValueError, match="sketch='oph' only applies"):
        similarity_join(docs, "doc_id", "text", 3, metric="hamming",
                        sketch="oph")
    with pytest.raises(ValueError, match="sketch='oph' only applies"):
        similarity_join(emb, "vec_id", "embedding", SRP_THRESHOLD,
                        sketch="oph")
    # an EXPLICIT 'kdraw' is a kernel request too: un-dispatched paths
    # must reject it, not silently run something else (only the 'auto'
    # default passes everywhere)
    with pytest.raises(ValueError, match="sketch='kdraw' only applies"):
        similarity_join(docs, "doc_id", "text", 0.8, exact=True,
                        sketch="kdraw")


def test_auto_sketch_routes_on_corpus_shape(spark, sf_dir):
    """sketch='auto' (the default) must route on
    the measured avg shingles/doc vs the K*ln(K) slot-fill cutover —
    k-draw below it (short fragments, densification-correlation regime),
    OPH at/above it (long docs, slots full). Pin the router both ways on
    synthetic shingle frames, the cutover's value, and that the catalog
    corpus routes to k-draw (which is why the front-door entries' k-draw
    band-replay oracles hold under the 'auto' default)."""
    import math

    from nfl_data_engineering_spark.functions.hashing import (
        OPH_BINS, oph_auto_cutover)
    from nfl_data_engineering_spark.functions.text import (
        shingle_hash_arrays)
    from nfl_data_engineering_spark.plans.similarity_api import (
        _resolve_auto_sketch)

    assert oph_auto_cutover() == OPH_BINS * math.log(OPH_BINS)  # ~266

    # the router reads the per-doc ARRAY frame (sum(size) / HLL over
    # docs — same integers as an exploded aggregate)
    short = spark.createDataFrame(
        [(d, list(range(10))) for d in (1, 2)],
        "doc_id int, sh_arr array<bigint>")
    long_ = spark.createDataFrame(
        [(d, list(range(300))) for d in (1, 2)],
        "doc_id int, sh_arr array<bigint>")
    assert _resolve_auto_sketch(short) == "kdraw"
    assert _resolve_auto_sketch(long_) == "oph"

    docs = load(spark, sf_dir, "documents")
    sharr = shingle_hash_arrays(docs, "doc_id", "text", n=3)
    assert _resolve_auto_sketch(sharr) == "kdraw"

    # end-to-end: on a long-doc corpus the default route must equal the
    # explicit OPH kernel's verified pair set
    import random
    rng = random.Random(7)
    words = [f"w{i}" for i in range(400)]
    base = " ".join(rng.choice(words) for _ in range(320))
    docs2 = spark.createDataFrame(
        [(1, base), (2, base), (3, " ".join(
            rng.choice(words) for _ in range(320)))],
        "doc_id int, text string")
    auto = _pairs(similarity_join(docs2, "doc_id", "text", 0.8))
    oph = _pairs(similarity_join(docs2, "doc_id", "text", 0.8,
                                 sketch="oph"))
    release_deferred()
    assert auto == oph == {(1, 2)}


def test_staged_equals_monolithic_union(spark, sf_dir):
    """similarity_join_staged must produce exactly
    the monolithic q_similarity_join_api union — same four families,
    same tagged rows — while materializing family by family. Its
    cached parts live until the next release_deferred(), which
    therefore runs only after the union is collected."""
    from nfl_data_engineering_spark.plans.registry import _BY_NAME
    from nfl_data_engineering_spark.plans.similarity_api import (
        similarity_join_staged)
    from nfl_data_engineering_spark.plans.vector import SRP_THRESHOLD

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    staged = similarity_join_staged([
        {"family": "jaccard_minhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD},
        {"family": "jaccard_prefix", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD, "exact": True},
        {"family": "hamming_simhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": SIMHASH_MAX_HAMMING,
         "metric": "hamming"},
        {"family": "cosine_srp", "df": emb, "id_col": "vec_id",
         "col": "embedding", "threshold": SRP_THRESHOLD},
    ])
    got = {tuple(r) for r in staged.collect()}
    want = {tuple(r) for r in
            _BY_NAME["similarity_join_api"].spark(spark, sf_dir).collect()}
    release_deferred()
    assert got == want
    assert {r[0] for r in got} == {"jaccard_minhash", "jaccard_prefix",
                                   "hamming_simhash", "cosine_srp"}


def test_staged_shared_shingles_passthrough(spark, sf_dir):
    """Text specs can share ONE precomputed cached shingle frame
    (trading the per-family re-shingle scan for a pinned cache that
    lives across the staging barriers). Results must be identical to
    the re-shingling form, and the caller-owned frame must still be
    cached (no family's stage released it) until the caller releases
    it."""
    from pyspark.storagelevel import StorageLevel

    from nfl_data_engineering_spark.functions.text import (
        shingle_hash_arrays)
    from nfl_data_engineering_spark.plans.similarity_api import (
        similarity_join_staged)

    docs = load(spark, sf_dir, "documents")
    sh = shingle_hash_arrays(docs, "doc_id", "text", n=3).cache()
    sh.count()
    shared = similarity_join_staged([
        {"family": "jaccard_minhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD, "shingles": sh},
        {"family": "jaccard_prefix", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD, "exact": True,
         "shingles": sh},
    ])
    got = {tuple(r) for r in shared.collect()}
    # caller still owns the shared frame: the family barriers must not
    # have unpersisted it
    assert sh.storageLevel != StorageLevel.NONE
    sh.unpersist()
    release_deferred()
    plain = similarity_join_staged([
        {"family": "jaccard_minhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD},
        {"family": "jaccard_prefix", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD, "exact": True},
    ])
    want = {tuple(r) for r in plain.collect()}
    release_deferred()
    assert got == want and got


def test_staged_barrier_releases_each_family(spark, sf_dir, monkeypatch,
                                             registry_ids):
    """When similarity_join_staged returns, every family's own pins are
    already unpersisted (each family ran to completion behind its
    barrier) and only the parked parts stay cached, until the next
    release_deferred()."""
    import sys

    from pyspark.storagelevel import StorageLevel

    from nfl_data_engineering_spark import storage
    from nfl_data_engineering_spark.plans import similarity_api as api

    family_pins, parts = [], []
    join, pin, park = api.similarity_join, storage.pin, api.park_frame

    def spy_join(*a, **kw):
        family_pins.append([])
        return join(*a, **kw)

    def spy_pin(df):
        family_pins[-1].append(pin(df))
        return family_pins[-1][-1]

    monkeypatch.setattr(api, "similarity_join", spy_join)
    # every module that imported storage.pin calls it by its own name
    for mod in list(sys.modules.values()):
        if getattr(mod, "pin", None) is pin:
            monkeypatch.setattr(mod, "pin", spy_pin)
    monkeypatch.setattr(api, "park_frame",
                        lambda df: (parts.append(df), park(df)))
    release_deferred()
    spark.catalog.clearCache()
    before = registry_ids()
    docs = load(spark, sf_dir, "documents")
    staged = api.similarity_join_staged([
        {"family": "jaccard_minhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD},
        {"family": "hamming_simhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": SIMHASH_MAX_HAMMING,
         "metric": "hamming"},
    ])
    assert len(family_pins) == 2 and all(family_pins)
    assert all(c.storageLevel == StorageLevel.NONE
               for pins in family_pins for c in pins), \
        "a family's pins must be released at its barrier"
    assert len(parts) == 2
    assert all(p.storageLevel != StorageLevel.NONE for p in parts)
    assert len(registry_ids() - before) == len(parts), \
        "only the filled parts may stay persisted"
    assert staged.count() > 0
    release_deferred()
    assert all(p.storageLevel == StorageLevel.NONE for p in parts)
    assert not (registry_ids() - before)


def test_staged_single_spec_no_self_cycle(spark, sf_dir):
    """A single-spec staged call returns that family's cached part
    with the same pairs as a direct similarity_join call."""
    from nfl_data_engineering_spark.plans.similarity_api import (
        similarity_join, similarity_join_staged)

    docs = load(spark, sf_dir, "documents")
    staged = similarity_join_staged([
        {"family": "jaccard_minhash", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": JACCARD_THRESHOLD}])
    got = {(r["id1"], r["id2"]) for r in staged.collect()}
    want = _pairs(similarity_join(docs, "doc_id", "text",
                                  JACCARD_THRESHOLD))
    release_deferred()
    assert got == want


def test_bench_reps_arg_parsing():
    """--min-of N / --min-of=N parse; missing or non-integer values are
    clear usage errors, not tracebacks."""
    import pytest

    from nfl_data_engineering_spark.bench import _reps_requested

    assert _reps_requested(["bench.py", "--min-of", "3"]) == 3
    assert _reps_requested(["bench.py", "--min-of=4"]) == 4
    assert _reps_requested(["bench.py", "--min-of", "0"]) == 1  # floor
    with pytest.raises(SystemExit, match="integer argument"):
        _reps_requested(["bench.py", "--min-of"])
    with pytest.raises(SystemExit, match="needs an integer"):
        _reps_requested(["bench.py", "--min-of=two"])


def test_containment_dispatch(spark, sf_dir):
    """metric='containment': the one ASYMMETRIC
    family through the front door. Ordered (id1=sub, id2=super) pairs
    must equal the standalone q_containment_join entry's pair set at
    the same gate; exact= is accepted either way (the kernel is always
    lossless — there is no approximate variant), while sketch= and an
    out-of-range threshold fail fast like every family's
    undispatchable input."""
    from nfl_data_engineering_spark.plans.registry import _BY_NAME
    from nfl_data_engineering_spark.plans.textops import CONTAINMENT_PCT

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    t = CONTAINMENT_PCT / 100
    with pytest.raises(ValueError, match="needs a string column"):
        similarity_join(emb, "vec_id", "embedding", t, metric="containment")
    with pytest.raises(ValueError, match="containment threshold"):
        similarity_join(docs, "doc_id", "text", 1.5, metric="containment")
    with pytest.raises(ValueError, match="sketch="):
        similarity_join(docs, "doc_id", "text", t, metric="containment",
                        sketch="oph")
    got = {(r["id1"], r["id2"]) for r in
           similarity_join(docs, "doc_id", "text", t,
                           metric="containment").collect()}
    # exact=True promises losslessness, which is what always runs
    got_exact = {(r["id1"], r["id2"]) for r in
                 similarity_join(docs, "doc_id", "text", t,
                                 metric="containment", exact=True).collect()}
    release_deferred()
    ref = {(r["sub_doc_id"], r["super_doc_id"]) for r in
           _BY_NAME["containment_join"].spark(spark, sf_dir).collect()}
    release_deferred()
    assert got == ref and got == got_exact
    assert got, "expected at least one containment pair in testdata"
    # the asymmetric family emits ORDERED pairs: exact-dup pairs appear
    # in both directions by definition
    assert any((b, a) in got for a, b in got)


def test_staged_containment_spec(spark, sf_dir):
    """A containment spec composes through similarity_join_staged like
    every other family (the staged API routes via similarity_join, so
    the new metric needs no staged-side code — pin that)."""
    from nfl_data_engineering_spark.plans.registry import _BY_NAME
    from nfl_data_engineering_spark.plans.similarity_api import (
        similarity_join_staged)
    from nfl_data_engineering_spark.plans.textops import CONTAINMENT_PCT

    docs = load(spark, sf_dir, "documents")
    staged = similarity_join_staged([
        {"family": "containment", "df": docs, "id_col": "doc_id",
         "col": "text", "threshold": CONTAINMENT_PCT / 100,
         "metric": "containment"},
    ])
    got = {tuple(r) for r in staged.collect()}
    want = {tuple(r) for r in
            _BY_NAME["similarity_containment_api"].spark(
                spark, sf_dir).collect()}
    release_deferred()
    assert got == want and got
