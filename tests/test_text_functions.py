"""Text/hashing/similarity function properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from nfl_data_engineering_spark.functions.hashing import (
    MERSENNE_P, h60, h60_py, lsh_band_keys, minhash_bands_arrays,
    minhash_signatures, simhash)
from nfl_data_engineering_spark.functions.similarity import (brute_force_topk,
                                                             cosine)
from nfl_data_engineering_spark.functions.text import (doc_fingerprint,
                                                       explode_shingles,
                                                       lang_id,
                                                       shingle_hash_arrays)


def _kdraw_bands(spark, docs, num_hashes, bands):
    """(row-local kernel, reference pair) band rows for ``docs``, a list
    of (doc_id, [shingle string or None]). The kernel reads the per-doc
    array of h60 hashes, NULL elements included; the reference pair
    (minhash_signatures + lsh_band_keys) reads the exploded rows with the
    NULL shingles filtered out."""
    df = spark.createDataFrame(docs, "doc_id int, shingles array<string>")
    docarr = df.select("doc_id", F.transform("shingles", h60).alias("sh_arr"))
    sh = (df.select("doc_id", F.explode("shingles").alias("shingle"))
          .filter(F.col("shingle").isNotNull()))
    got = sorted(map(tuple, minhash_bands_arrays(
        docarr, "doc_id", "sh_arr", num_hashes, bands).collect()))
    sig = minhash_signatures(sh, "doc_id", "shingle", num_hashes=num_hashes)
    want = sorted(map(tuple, lsh_band_keys(
        sig, "doc_id", num_hashes=num_hashes, bands=bands).collect()))
    return got, want


def test_h60_matches_python_twin(spark):
    got = spark.range(1).select(h60(F.lit("hello")).alias("h")).collect()[0]["h"]
    assert got == h60_py("hello") == 419982666956583591


def test_shingles_set_semantics(spark):
    df = spark.createDataFrame([(1, "a b c a b c a b c")], "doc_id int, text string")
    out = {r["shingle"] for r in explode_shingles(df, "doc_id", "text", 3).collect()}
    assert out == {"a b c", "b c a", "c a b"}


def test_shingles_short_docs_yield_nothing(spark):
    # regression: Spark sequence(1, 0) is DESCENDING [1, 0], so the unguarded
    # shingle index crashed element_at on docs with < n tokens
    from collections import Counter

    from nfl_data_engineering_spark.functions.text import explode_shingle_hashes
    df = spark.createDataFrame(
        [(1, "only two"), (2, ""), (3, "   "), (4, "a b c"),
         (5, "x x x x x x")],
        "doc_id int, text string")
    hashed = explode_shingle_hashes(df, "doc_id", "text", 3).collect()
    assert dict(Counter(r["doc_id"] for r in hashed)) == {4: 1, 5: 1}
    strings = explode_shingles(df, "doc_id", "text", 3).collect()
    assert dict(Counter(r["doc_id"] for r in strings)) == {4: 1, 5: 1}


def test_minhash_identical_docs_share_all_bands(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string")
    arr = shingle_hash_arrays(df, "doc_id", "text", 3)
    bands = minhash_bands_arrays(arr, "doc_id", "sh_arr", 64, 16)
    keys = (bands.groupBy("band")
            .agg(F.countDistinct("band_key").alias("k")).collect())
    assert all(r["k"] == 1 for r in keys)


def test_oph_identical_docs_share_all_bands(spark):
    from nfl_data_engineering_spark.functions.hashing import oph_bands_fast
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string")
    sh = explode_shingles(df, "doc_id", "text", 3)
    bands = oph_bands_fast(sh, "doc_id", "shingle", 64, 16)
    keys = (bands.groupBy("band")
            .agg(F.countDistinct("band_key").alias("k")).collect())
    assert len(keys) == 16 and all(r["k"] == 1 for r in keys)


def test_oph_densification_fills_every_band(spark):
    """A doc with ONE shingle occupies one of 64 slots; rotation
    densification must fill the other 63, yielding a full 16-band sketch
    whose keys all derive from that single draw — and two docs with the
    same lone shingle must sketch identically while a different lone
    shingle shares nothing (the distance offset keeps borrowed slots
    from colliding by accident)."""
    from nfl_data_engineering_spark.functions.hashing import oph_bands_fast
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "delta epsilon zeta")],
        "doc_id int, text string")
    sh = explode_shingles(df, "doc_id", "text", 3)   # one 3-shingle per doc
    rows = oph_bands_fast(sh, "doc_id", "shingle", 64, 16).collect()
    per_doc = {}
    for r in rows:
        assert r["band_key"] is not None
        per_doc.setdefault(r["doc_id"], {})[r["band"]] = r["band_key"]
    assert all(len(b) == 16 for b in per_doc.values())
    assert per_doc[1] == per_doc[2]
    assert all(per_doc[1][b] != per_doc[3][b] for b in per_doc[1])


def test_oph_rejects_bins_without_distance_headroom(spark):
    """num_bins < 32 leaves slot values that can reach OPH_DENS_BASE, so
    a doc's own slot minimum could lose to a distance-1 borrow — and the
    oracle replays the same formula, so parity would never catch the
    silently-wrong bands. The kernel must fail loudly instead."""
    import pytest

    from nfl_data_engineering_spark.functions.hashing import oph_bands_fast
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id int, text string")
    sh = explode_shingles(df, "doc_id", "text", 3)
    with pytest.raises(ValueError, match="num_bins must be a power of two"):
        oph_bands_fast(sh, "doc_id", "shingle", num_bins=48, bands=16)
    with pytest.raises(ValueError, match="OPH_DENS_BASE"):
        oph_bands_fast(sh, "doc_id", "shingle", num_bins=16, bands=16)


def test_oph_null_shingles_ignored_like_kdraw(spark):
    """A NULL shingle hash from an external hashed=True caller must be
    IGNORED (the k-draw kernel and simhash filter them), not propagated to a
    NULL map key that map_from_entries rejects with an opaque runtime error.
    Bands must equal the null-free twin's."""
    from nfl_data_engineering_spark.functions.hashing import oph_bands_fast
    withnull = spark.createDataFrame(
        [(1, 12345), (1, None), (1, 67890), (2, None)],
        "doc_id int, sh60 bigint")
    clean = spark.createDataFrame(
        [(1, 12345), (1, 67890)], "doc_id int, sh60 bigint")
    got = sorted(map(tuple, oph_bands_fast(
        withnull, "doc_id", "sh60", 64, 16, hashed=True).collect()))
    want = sorted(map(tuple, oph_bands_fast(
        clean, "doc_id", "sh60", 64, 16, hashed=True).collect()))
    assert got == want           # doc 2 (all-null) yields no rows
    assert {t[0] for t in got} == {1}


def test_kdraw_null_shingles_ignored_like_oph(spark):
    """A doc with no non-null shingles yields no band rows, and per-shingle
    NULLs never perturb the bands — the OPH kernel's contract. An
    all-null doc that emitted rows would get md5('') as every band key
    (concat_ws skips the NULL minima) and band with every other such doc
    in one quadratic candidate bucket."""
    got, want = _kdraw_bands(spark, [
        (1, ["a b c", None, "b c d"]), (2, [None]), (3, [None, None])],
        64, 16)
    assert got == want        # docs 2+3 (all-null) yield NO rows — they
    assert {t[0] for t in got} == {1}   # must not band together
    clean, _ = _kdraw_bands(spark, [(1, ["a b c", "b c d"])], 64, 16)
    assert got == clean


def test_oph_fold_evaluated_once_in_plan(spark):
    """The densification fold + band assembly must survive optimization
    as ONE aggregate expression. Materializing the fold (or the doubling
    levels) as named projection columns lets CollapseProject re-inline
    it into every lambda-body reference — 60-140x re-evaluation per row,
    invisible to .count() because column pruning drops the band columns
    (measurements in functions.hashing.oph_bands_fast). A
    re-inlined plan shows one aggregate( per reference; the shipped
    single-expression form shows exactly one."""
    from nfl_data_engineering_spark.functions.hashing import oph_bands_fast
    from nfl_data_engineering_spark.functions.text import explode_shingle_hashes
    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id int, text string")
    sh = explode_shingle_hashes(df, "doc_id", "text", 3)
    bands = oph_bands_fast(sh, "doc_id", "sh60", hashed=True)
    plan = bands._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1, (
        f"densification fold appears {plan.count('aggregate(')} times in "
        f"the optimized plan — projection re-inlining is back")


def test_simhash_identical_docs_hamming_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y z w q")],
        "doc_id int, text string")
    toked = df.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    sims = {r["doc_id"]: r["simhash"]
            for r in simhash(toked, "doc_id", "token").collect()}
    assert sims[1] == sims[2]
    assert sims[1] != sims[3]


def test_simhash_packed_counters_match_unpacked_votes(spark):
    """The packed-counter vote aggregate (two 31-bit set-bit counts per
    int64 sum) must reproduce the original per-bit ±1 vote
    form exactly: vote_j = 2*cnt_j - n > 0 <=> 2*cnt_j > n."""
    from nfl_data_engineering_spark.functions.hashing import h60
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toked = df.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    new = simhash(toked, "doc_id", "token")
    th = (toked.select(F.col("doc_id"), h60(F.col("token")).alias("__th"))
          .filter(F.col("__th").isNotNull()))
    votes = [F.expr(f"sum(CASE WHEN (shiftright(__th, {j}) & 1) = 1 "
                    f"THEN 1 ELSE -1 END) AS __v{j}") for j in range(60)]
    sk = " + ".join(
        f"(CASE WHEN __v{j} > 0 THEN CAST({1 << j} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)" for j in range(60))
    old = (th.groupBy("doc_id").agg(*votes)
           .selectExpr("doc_id", f"({sk}) AS simhash"))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_fingerprint_is_position_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c")], "doc_id int, text string")
    fps = {r["doc_id"]: r["fingerprint"]
           for r in doc_fingerprint(df, "doc_id", "text").collect()}
    assert fps[1] == fps[3]
    assert fps[1] != fps[2]
    assert all(0 <= v < MERSENNE_P for v in fps.values())


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "el perro y la casa de que"),
         (3, "zzz qqq www")],
        "doc_id int, text string")
    out = {r["doc_id"]: r["p"]
           for r in df.select("doc_id", lang_id(F.col("text")).alias("p")).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_lang_id_kernel_equals_expression_form(spark):
    """The Arrow kernel and the Catalyst expression form must agree on
    every document plus the edge rows (NULL text, empty, whitespace-only,
    cross-language tie where the lowest code must win)."""
    from nfl_data_engineering_spark.functions.text import lang_id_expr
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    edge = spark.createDataFrame(
        [(1000001, None), (1000002, ""), (1000003, "   \t \n "),
         (1000004, "la la"),          # es/fr tie -> 'es' (lowest code)
         (1000005, "the el le der de5"),
         # U+00A0 (NBSP) is \s in Python's Unicode default but NOT in
         # Java's ASCII \s: both forms must treat 'le\xa0le' as ONE
         # (non-marker) token, scoring only the trailing 'la'
         (1000006, "le\u00a0le la")],
        "doc_id long, text string")
    both = (docs.unionByName(edge)
            .select(lang_id(F.col("text")).alias("k"),
                    lang_id_expr(F.col("text")).alias("e")))
    assert both.filter("k IS DISTINCT FROM e").count() == 0


def test_udtf_expand_record(spark):
    # §2.8 UDTF surface: lateral table function, variable row expansion
    from nfl_data_engineering_spark.functions.udtfs import ExpandRecord
    spark.udtf.register("expand_record_t", ExpandRecord)
    rows = spark.sql("""
        SELECT t.team, r.outcome, r.n
        FROM VALUES ('Bears', '3-1-1'), ('Lions', '--'), ('Packers', '0-2')
             AS t(team, rec),
        LATERAL expand_record_t(t.rec) r
    """).collect()
    got = sorted((r["team"], r["outcome"], r["n"]) for r in rows)
    assert got == [("Bears", "loss", 1), ("Bears", "tie", 1),
                   ("Bears", "win", 3), ("Packers", "loss", 2)]


def test_cosine_and_topk(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id int, embedding array<float>")
    c = (spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])], "a array<float>, b array<float>")
         .select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"])
    assert abs(c) < 1e-12
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = brute_force_topk(df, q, k=3).orderBy("rank").collect()
    assert [r["vec_id"] for r in out] == [1, 2, 3]   # by descending cosine
    assert all(r["q_id"] == 0 and r["vec_id"] != 0 for r in out)


def test_simhash_ignores_null_tokens(spark):
    """NULL tokens must not vote (h60(NULL) is NULL, and
    when().otherwise(-1) would count each null row as -1 on every bit, so
    docs differing only in null counts would sketch differently)."""
    from nfl_data_engineering_spark.functions.hashing import simhash
    toked = spark.createDataFrame(
        [("d1", "alpha"), ("d1", "beta"),
         ("d2", "alpha"), ("d2", "beta"), ("d2", None), ("d2", None)],
        "doc_id: string, token: string")
    out = {r["doc_id"]: r["simhash"] for r in
           simhash(toked, "doc_id", "token").collect()}
    assert out["d1"] == out["d2"], \
        "identical real tokens must sketch identically regardless of nulls"
    # all-null doc: no sketch row (not a fake all-zeros sketch)
    allnull = spark.createDataFrame([("d3", None)],
                                    "doc_id: string, token: string")
    assert simhash(allnull, "doc_id", "token").count() == 0


def test_minhash_fast_path_matches_reference_path(spark):
    """The row-local kernel every catalog entry runs (minhash_bands_arrays)
    must be semantically identical to minhash_signatures + lsh_band_keys,
    the exploded reference form."""
    got, want = _kdraw_bands(spark, [
        (i, ["tok%d" % j for j in (i, i + 1, i + 2, i % 3)])
        for i in range(8)], 16, 4)
    assert got == want
    assert {t[0] for t in got} == set(range(8))


def test_shingle_hash_arrays_matches_exploded_form(spark):
    """shingle_hash_arrays must be the exact pre-explode
    form of explode_shingle_hashes — explode(sh_arr) reproduces its rows
    (same distinct hash sets per doc), and empty docs keep a row with an
    empty array where the exploded form drops them."""
    from nfl_data_engineering_spark.functions.text import (
        explode_shingle_hashes, shingle_hash_arrays)
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c a b c"), (3, "xx"), (4, None)],
        "doc_id int, text string")
    arr = shingle_hash_arrays(df, "doc_id", "text", 3)
    got = {(r["doc_id"], r["sh60"]) for r in
           arr.select("doc_id", F.explode("sh_arr").alias("sh60")).collect()}
    want = {(r["doc_id"], r["sh60"]) for r in
            explode_shingle_hashes(df, "doc_id", "text", 3).collect()}
    assert got == want
    rows = {r["doc_id"]: r["sh_arr"] for r in arr.collect()}
    assert set(rows) == {1, 2, 3, 4}          # empty docs keep a row
    assert rows[3] == [] and rows[4] == []
    assert len(rows[2]) == len(set(rows[2]))  # within-doc distinct


def test_minhash_bands_arrays_matches_exploded_kernel(spark):
    """The row-local k-draw kernel must emit byte-identical band rows to
    the reference pair over the exploded rows — including the shared
    contracts: NULL elements ignored, all-null/empty docs yield no rows."""
    got, want = _kdraw_bands(spark, [
        (1, ["s11", "s22", "s33", "s44", "s55"]), (2, ["s22", "s33", "s66"]),
        (3, [None, "s77"]), (4, []), (5, [None])], 16, 4)
    assert got == want
    assert {t[0] for t in got} == {1, 2, 3}   # 4 (empty), 5 (all-null): none


def test_verify_jaccard_arrays_matches_explode_join_tail(spark):
    """The array-intersect verify tail must produce the same verified
    pairs and the same double scores as the old explode-join /
    pair-groupBy / size-join chain."""
    from nfl_data_engineering_spark.plans.textops import (
        verify_jaccard_arrays)
    docarr = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5]), (2, [1, 2, 3, 4, 6]),
         (3, [1, 2]), (4, [7, 8, 9])],
        "doc_id int, sh_arr array<bigint>")
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (3, 4)], "d1 int, d2 int")
    got = {(r["d1"], r["d2"], r["jaccard"]) for r in
           verify_jaccard_arrays(docarr, cand, 0.3).collect()}
    sh = docarr.select("doc_id", F.explode("sh_arr").alias("sh60"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    s1 = sh.select(F.col("doc_id").alias("d1"), "sh60")
    s2 = sh.select(F.col("doc_id").alias("d2"), "sh60")
    inter = (cand.join(s1, "d1").join(s2, ["d2", "sh60"])
             .groupBy("d1", "d2").agg(F.count("*").alias("i")))
    jac = (F.col("i").cast("double")
           / (F.col("sz1") + F.col("sz2") - F.col("i")).cast("double"))
    want = {(r["d1"], r["d2"], r["jaccard"]) for r in
            (inter
             .join(sizes.select(F.col("doc_id").alias("d1"),
                                F.col("sz").alias("sz1")), "d1")
             .join(sizes.select(F.col("doc_id").alias("d2"),
                                F.col("sz").alias("sz2")), "d2")
             .filter(jac >= 0.3)
             .select("d1", "d2", jac.alias("jaccard"))).collect()}
    assert got == want
    assert got == {(1, 2, 4.0 / 6.0), (1, 3, 2.0 / 5.0)}
