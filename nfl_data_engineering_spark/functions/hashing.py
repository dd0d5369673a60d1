"""Deterministic, engine-portable hashing + sketches (MinHash, SimHash).

Design constraint: every hash here must be reproducible bit-for-bit in ANSI
SQL (the DuckDB oracle), so we build on md5 — identical across engines —
rather than Spark's xxhash64/hash (engine-specific seeds).

Primitive: ``h60(s) = int(md5(s)[:15], 16)`` — a 60-bit non-negative hash
that fits a signed int64 with headroom for modular arithmetic.

MinHash uses the classic universal-hash family ``(a_i * h + b_i) mod P`` with
P = 2^31 - 1 (Mersenne); ``h mod P`` first keeps every product < 2^62, so no
int64 overflow on either engine. Parameters a_i/b_i are themselves derived
from h60 of the seed index — no RNG, no state to ship.

At 100 TB: everything below is a projection or a groupBy on (doc, seed) —
embarrassingly parallel, no driver participation, no UDFs.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, functions as F

MERSENNE_P = (1 << 31) - 1


def h60_py(s: str) -> int:
    """Driver-side twin of :func:`h60` for precomputing constants."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def h60(col: Column) -> Column:
    """60-bit md5-based hash; matches DuckDB
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def h60_sql(expr: str) -> str:
    """The DuckDB-side twin of :func:`h60` (for oracle construction)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# The catalog-wide MinHash hash budget. Lives HERE, next to the band
# derivation, so the budget and the banding share one source: a retune
# propagates to textops' standalone entries AND the similarity_join
# front door (whose calls rely on minhash_band_config's default) —
# a hardcoded default would let the two silently diverge.
NUM_HASHES = 64

# The catalog-wide default jaccard threshold (textops.JACCARD_THRESHOLD
# aliases this). Lives next to the band derivation for the same
# single-source reason as NUM_HASHES.
DEFAULT_JACCARD_THRESHOLD = 0.8

# A band config is accepted for a threshold t only if the S-curve catch
# probability AT t, 1-(1-t^r)^b, clears this floor; pairs above t catch
# with strictly higher probability, so measured recall >= the floor too.
RECALL_FLOOR = 0.99


def minhash_band_config(threshold: float,
                        num_hashes: int = NUM_HASHES) -> tuple[int, int]:
    """Derive (num_hashes, num_bands) from the caller's jaccard threshold
    (a module-constant 0.8-tuned config silently gave a threshold=0.5
    caller ~64% recall). Keep the hash budget fixed and
    pick the FEWEST bands — i.e. the LONGEST rows-per-band r = n/b, the
    sharpest S-curve and the fewest false candidates — whose catch
    probability at the threshold still clears RECALL_FLOOR. Recall is
    monotone in b at fixed budget (smaller r raises t^r AND more bands
    raise 1-(1-p)^b), so the first qualifying b in ascending order is the
    precision-optimal choice. t=0.8 resolves to the proven 64x16 config
    (measured ~1e6 ppm, q_minhash_recall_audit); t=0.5 resolves to 64x32
    (q_minhash_recall_t05 measures that one). Very low thresholds where
    even r=1 misses the floor fall back to r=1, the budget's maximum
    recall.

    Lives here (not in similarity_api) so the standalone catalog entries
    (dedup_minhash_lsh, incremental_corpus_dedup, dedup_star_survivors)
    and the front-door API derive banding from the SAME rule — a caller
    re-tuning JACCARD_THRESHOLD can no longer silently re-inherit the
    0.8-tuned band count."""
    # every divisor ascending, not just powers of two: a caller passing a
    # non-power-of-two budget (e.g. 48) must still get the fewest-bands
    # qualifying config (b=24, r=2 at t=0.5), not the r=1 fallback
    for b in range(1, num_hashes + 1):
        if num_hashes % b == 0:
            r = num_hashes // b
            if 1.0 - (1.0 - threshold ** r) ** b >= RECALL_FLOOR:
                return num_hashes, b
    return num_hashes, num_hashes


def minhash_a(i: Column) -> Column:
    """Universal-hash slope for seed i: 1 + h60('a'||i) mod (P-1)."""
    return F.lit(1) + h60(F.concat(F.lit("mh_a_"), i.cast("string"))) % F.lit(MERSENNE_P - 1)


def minhash_b(i: Column) -> Column:
    """Universal-hash intercept for seed i: h60('b'||i) mod P."""
    return h60(F.concat(F.lit("mh_b_"), i.cast("string"))) % F.lit(MERSENNE_P)


def minhash_value(shingle_hash: Column, i: Column) -> Column:
    """(a_i * (h mod P) + b_i) mod P — one MinHash draw."""
    hm = shingle_hash % F.lit(MERSENNE_P)
    return (minhash_a(i) * hm + minhash_b(i)) % F.lit(MERSENNE_P)


def minhash_signatures(shingled: DataFrame, id_col: str, shingle_col: str,
                       num_hashes: int = NUM_HASHES) -> DataFrame:
    """(id, shingle) rows -> (id, seed, minhash) rows.

    One explode over the seed range + one (id, seed) groupBy — a single
    shuffle keyed on (id, seed), partial min computed map-side.
    """
    seeded = (shingled
              .select(F.col(id_col),
                      h60(F.col(shingle_col)).alias("__sh"))
              .select(F.col(id_col), "__sh",
                      F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")))
    return (seeded
            .select(F.col(id_col), "seed",
                    minhash_value(F.col("__sh"), F.col("seed")).alias("mh"))
            .groupBy(id_col, "seed")
            .agg(F.min("mh").alias("minhash")))


def lsh_band_keys(signatures: DataFrame, id_col: str,
                  num_hashes: int = NUM_HASHES,
                  bands: int | None = None) -> DataFrame:
    """Fold a (id, seed, minhash) signature into (id, band, band_key) rows.

    band = seed // rows_per_band; band_key = md5 of the ordered minhash list.
    Docs sharing any band_key are LSH candidates. Join on (band, band_key)
    is an equi-join Catalyst can hash-partition — no similarity math until
    the (tiny) candidate set is known.

    ``bands=None`` resolves through minhash_band_config at the catalog's
    DEFAULT_JACCARD_THRESHOLD under the given budget — a literal default
    decoupled from the derivation would hand a library caller 0.8-tuned
    recall after any NUM_HASHES retune. Callers at a
    different threshold pass ``minhash_band_config(t)[1]``.
    """
    if bands is None:
        bands = minhash_band_config(DEFAULT_JACCARD_THRESHOLD, num_hashes)[1]
    rows_per_band = num_hashes // bands
    return (signatures
            .withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
            .groupBy(id_col, "band")
            .agg(F.md5(F.concat_ws(",", F.sort_array(
                F.collect_list(F.struct("seed", "minhash"))).minhash))
                 .alias("band_key")))


def minhash_bands_arrays(docarr: DataFrame, id_col: str, arr_col: str,
                         num_hashes: int = NUM_HASHES,
                         bands: int | None = None) -> DataFrame:
    """(id, array<bigint> of h60 shingle hashes) -> (id, band, band_key)
    rows, fully ROW-LOCAL k-draw MinHash: the input is the per-doc
    distinct-hash array (functions.text.shingle_hash_arrays), each of
    the ``num_hashes`` universal draws is an array_min over a transform
    of that array, and band keys assemble per row — semantically
    identical to the reference pair minhash_signatures + lsh_band_keys
    over the exploded, NULL-filtered rows (same a/b parameters, same md5
    band keys; pinned by test), but with NO explode and NO (id)-keyed
    aggregation at all. An exploded columnar form pays 64
    aggregate-buffer updates per shingle row through a hash aggregate;
    this form does the same arithmetic inside one projection — measured
    0.36 s vs 0.66 s at sf0.1 with byte-identical band rows, and at
    100 TB it removes the aggregation machinery from the sketch pass
    entirely (the per-doc array is the row's own payload).

    The ``__hm`` pre-reduction column is deliberately a NAMED projection
    consumed by 64 downstream expressions: Spark's CollapseProject does
    not inline non-cheap expressions referenced more than once
    (SPARK-36718), so the % P pass over the array runs once per row,
    not 64 times.

    NULL array elements are dropped and a doc with no (non-null)
    elements yields no rows — the same contract as oph_bands_fast. An
    all-null doc that emitted rows would get md5('') as every band key
    (concat_ws skips the NULL minima) and band with every other such doc
    in one quadratic candidate bucket. ``bands=None`` resolves through
    minhash_band_config at the catalog default, the shared
    single-source rule."""
    if bands is None:
        bands = minhash_band_config(DEFAULT_JACCARD_THRESHOLD, num_hashes)[1]
    a = [1 + h60_py(f"mh_a_{i}") % (MERSENNE_P - 1) for i in range(num_hashes)]
    b = [h60_py(f"mh_b_{i}") % MERSENNE_P for i in range(num_hashes)]
    # Built as SQL TEXT parsed JVM-side (3 py4j calls total), not composed
    # Column objects: constructing the 64 transform/array_min draw Columns
    # through py4j cost ~1.0 s of pure driver time PER CALL (measured:
    # the zero-jobs gap in every jaccard entry's job timeline). Same
    # parsed plan, A/B'd byte-identical band rows, construction
    # 0.97 s -> 0.09 s.
    src = (docarr.selectExpr(
        f"`{id_col}`",
        f"filter(transform(`{arr_col}`, s -> s % {MERSENNE_P}L), "
        "x -> x IS NOT NULL) AS __hm")
        .filter(F.size("__hm") > 0))
    # single-arg lambda (a 2-arg transform lambda would receive the
    # ELEMENT INDEX as its second argument), i interpolated per draw
    sig = src.selectExpr(
        f"`{id_col}`",
        *[f"array_min(transform(__hm, x -> ({a[i]}L * x + {b[i]}L) "
          f"% {MERSENNE_P}L)) AS __mh{i}" for i in range(num_hashes)])
    return _band_assembly_expr(sig, id_col, num_hashes, bands)


def _band_assembly_expr(sig: DataFrame, id_col: str, num_hashes: int,
                        bands: int) -> DataFrame:
    """(id, __mh0..__mh{n-1}) -> (id, band, band_key): md5 band keys over
    rows-per-band minhash groups, emitted via one explode (the same
    md5/concat_ws band keys as lsh_band_keys; SQL-text construction for
    the same py4j reason as the kernel)."""
    rpb = num_hashes // bands
    band_structs = [
        "struct({j} AS band, md5(concat_ws(',', {cols})) AS band_key)".format(
            j=j, cols=", ".join(f"__mh{j * rpb + r}" for r in range(rpb)))
        for j in range(bands)]
    return (sig.selectExpr(f"`{id_col}`",
                           f"explode(array({', '.join(band_structs)})) AS b")
            .select(F.col(id_col), F.col("b.band"), F.col("b.band_key")))


# One-Permutation Hashing (Li/Owen/Zhang, NIPS 2012) with rotation
# densification (Shrivastava/Li, ICML 2014). Bin count deliberately equals
# the k-draw budget so the band derivation (minhash_band_config) applies
# unchanged: 64 slots at t=0.8 resolve to the same 16x4 banding.
OPH_BINS = NUM_HASHES
# Densified key = rotation_distance * OPH_DENS_BASE + slot_value. Slot
# values are (h mod P) div OPH_BINS < 2^31/64 = 2^25, so 2^26 keeps the
# distance in disjoint high bits: two docs both empty at slot j collide
# only when they borrow the SAME value from the SAME distance.
OPH_DENS_BASE = 1 << 26


def oph_bands_fast(shingled: DataFrame, id_col: str, shingle_col: str,
                   num_bins: int = OPH_BINS, bands: int | None = None,
                   hashed: bool = False) -> DataFrame:
    """(id, shingle) rows -> (id, band, band_key) via One-Permutation MinHash.

    ONE universal draw per shingle instead of ``num_bins`` draws: the
    draw h = sh60 mod P is split into bin = h mod num_bins (which slot it
    competes for) and value = h div num_bins (its rank within the slot);
    each slot keeps the MIN value. Empty slots are densified by borrowing
    from the cyclically-nearest non-empty slot, with the rotation
    distance encoded in high bits (see OPH_DENS_BASE) so borrowed slots
    only match when both the source value and the distance agree —
    Shrivastava/Li rotation densification, which restores the unbiased
    resemblance estimate.

    Why it exists next to the k-draw kernel: an exploded k-draw kernel
    spends num_bins draw+aggregate-update pairs per shingle; this kernel
    spends one. Measured at the 100x replica with full band
    materialization — noop writes, because a bare .count() silently
    PRUNES the band columns and with them most of either kernel's work:
    on that SHORT-doc corpus (~53 shingles/doc) the
    per-doc assembly + extra slot shuffle still outweigh the saved
    draws (4.35 s vs 2.81 s); the balance tips to OPH as shingles/doc
    grows, since per-shingle work is 1 update vs 64 while the per-doc
    side stays fixed. Densified slots of LOW-FILL sketches correlate
    across bands: +14% candidate pair-slots and an 858-vs-393 max bucket
    at the short-doc replica, which the locally-quadratic
    candidate/verify stages turn into a 2x entry-level gap (646.8 s vs
    323.7 s for a near-identical deliverable — OPH even catches 137 more
    true pairs). In the long-doc regime (~2,120 shingles/doc, slots
    full) the correlation vanishes (pair_slots within 1%) and the
    sketch pass is 5.6x FASTER than k-draw (0.47 s vs 2.62 s on the same
    26.5M shingles). Guideline: OPH for long-document corpora, k-draw
    for short fragments. The banding, candidate equi-join, and
    exact-jaccard verify downstream are identical, and
    q_oph_recall_audit measures the recall cost of the cheaper sketch
    against the same exact-pair truth as the k-draw audit.

    Plan shape: one row-local projection (no row multiplication), one
    (id, bin)-keyed MIN groupBy (a single aggregate-buffer update per
    shingle — the k-draw kernel pays num_bins updates), one (id)-keyed
    fold of the <= num_bins surviving slot rows into a map, then
    row-local densification via a sparse-table sliding minimum + band
    assembly. A doc with >= 1 shingle fills every slot after
    densification; a doc with no shingles yields no rows (same contract
    as the k-draw kernels).

    ``bands=None`` resolves through minhash_band_config at the catalog's
    DEFAULT_JACCARD_THRESHOLD (same single-source rule as lsh_band_keys /
    minhash_bands_arrays); callers at a different threshold
    pass ``minhash_band_config(t, num_bins)[1]``.
    """
    if bands is None:
        bands = minhash_band_config(DEFAULT_JACCARD_THRESHOLD, num_bins)[1]
    base = F.col(shingle_col) if hashed else h60(F.col(shingle_col))
    # NULL shingles are IGNORED, matching the k-draw kernel's explicit
    # filter and simhash's null rule — without the filter a NULL __hm
    # propagates to __bin and map_from_entries rejects the NULL map key
    # with an opaque runtime error mid-job. Catalog paths never produce
    # NULL shingles; an external hashed=True caller can.
    per = (shingled
           .select(F.col(id_col), (base % MERSENNE_P).alias("__hm"))
           .filter(F.col("__hm").isNotNull())
           .select(F.col(id_col),
                   F.expr(f"__hm % {num_bins}").cast("int").alias("__bin"),
                   F.expr(f"__hm div {num_bins}").alias("__v")))
    # Slot minima keyed on (id, bin): ONE aggregate-buffer update per
    # shingle — this is where OPH's saving lives. The k-draw kernel (and
    # a rejected conditional-agg form of this one) pays num_bins buffer
    # updates per shingle. The second shuffle (<= num_bins tiny rows per
    # doc) is volume-bounded by the band output itself, and (id, bin)
    # has 64x the key cardinality of (id): better parallelism, no new
    # skew. Measured trade at the 100x replica under full
    # materialization: see the docstring.
    slot_rows = per.groupBy(id_col, "__bin").agg(F.min("__v").alias("__v"))
    slot = slot_rows.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("__bin", "__v")))
        .alias("__m"))
    # Densification + band assembly as ONE Catalyst expression:
    #   dens[j] = min_{d in [0,K)} d*BASE + slot[(j+d) mod K]
    #           = ( min_{i in [j, j+K)} g[i] ) - j*BASE
    # over the doubled offset-encoded array g[i] = i*BASE + slot[i mod K],
    # i in [0, 2K); the K-wide window minima come from log2(K) doubling
    # levels b_{2w}[i] = least(b_w[i], b_w[i+w]) (F.least skips the NULLs
    # of empty slots) folded with F.aggregate, and the band md5s are built
    # in the aggregate's FINISH lambda, where the accumulator is a bound
    # value — referenced freely without re-evaluation.
    #
    # That single-expression shape is load-bearing, not style. TWO
    # rejected shapes, both measured at the 100x replica: the naive O(K^2)
    # all-rotations scan, and — the subtle one — the doubling levels (or
    # the dens array) materialized as NAMED PROJECTION COLUMNS: the
    # optimizer collapses adjacent Projects and re-inlines the producing
    # expression into EVERY downstream reference, even references inside
    # lambda bodies, re-expanding the work exponentially (57.1 s to
    # materialize 5k docs' bands for the chained-projection form and
    # 73 s for 500k docs with a named dens array, vs 0.42 s at 5k docs
    # for this form — and a bare .count() hides all of it by pruning the
    # band columns, so materialize with a noop write when benchmarking).
    if num_bins & (num_bins - 1):
        raise ValueError(f"num_bins must be a power of two, got {num_bins}")
    if MERSENNE_P // num_bins >= OPH_DENS_BASE:
        # the rotation-distance encoding needs every slot value strictly
        # below OPH_DENS_BASE; below 32 bins a slot value can reach
        # P/num_bins >= 2^26 and a doc's OWN slot minimum would lose to a
        # distance-1 borrow — silently wrong bands on BOTH engines (the
        # oracle replays the same formula), so fail loudly instead
        raise ValueError(
            f"num_bins={num_bins} leaves slot values up to "
            f"{MERSENNE_P // num_bins} >= OPH_DENS_BASE={OPH_DENS_BASE}; "
            f"use num_bins >= 32 or derive a larger distance base")
    g = F.transform(
        F.sequence(F.lit(0), F.lit(2 * num_bins - 1)),
        lambda i: i.cast("bigint") * F.lit(OPH_DENS_BASE)
        + F.try_element_at(F.col("__m"), i % num_bins))
    widths = []
    w = 1
    while w < num_bins:
        widths.append(w)
        w *= 2
    rpb = num_bins // bands

    def _finish(acc: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda j: F.struct(
                j.alias("band"),
                F.md5(F.concat_ws(",", *[
                    F.element_at(acc, j * rpb + r + 1)
                    - (j * rpb + r).cast("bigint") * F.lit(OPH_DENS_BASE)
                    for r in range(rpb)])).alias("band_key")))

    bands_arr = F.aggregate(
        F.array(*[F.lit(x) for x in widths]), g,
        lambda acc, step: F.transform(
            F.sequence(F.lit(0), F.size(acc) - 1 - step),
            lambda i: F.least(F.element_at(acc, i + 1),
                              F.element_at(acc, i + 1 + step))),
        _finish)
    return (slot.select(F.col(id_col), F.explode(bands_arr).alias("b"))
            .select(F.col(id_col), F.col("b.band"), F.col("b.band_key")))


def oph_auto_cutover(num_bins: int = OPH_BINS) -> float:
    """Shingles/doc at which ``sketch='auto'`` routes to the OPH kernel:
    K*ln(K) — the fill point where the expected number of EMPTY slots
    after s uniform draws over K bins falls to ~1 (K*(1-1/K)^s ~
    K*e^(-s/K) = 1  =>  s = K ln K; 64 bins -> ~266). Below it densified
    (borrowed) slots are common and correlate across bands — the
    measured short-doc regime where k-draw wins (~53 shingles/doc: +14%
    candidate pair-slots, an 858-vs-393 max bucket, a 2x entry-level
    gap); above it slots are full, the correlation vanishes (pair_slots
    within 1% at ~2,120 shingles/doc) and OPH's 1-update-per-shingle
    sketch pass wins 5.6x. Both measured at the 100x replica under full
    materialization. Lives here, next to the kernels and OPH_BINS, so a
    bin retune moves the cutover with it: the kernel guideline is code,
    not a docstring."""
    return num_bins * math.log(num_bins)


def simhash(tokened: DataFrame, id_col: str, token_col: str,
            bits: int = 60, out_col: str = "simhash") -> DataFrame:
    """(id, token) rows -> (id, simhash) with a ``bits``-wide SimHash.

    Each token votes +1/-1 per bit position from its h60 bits; the sketch
    sets bit j iff the vote sum is positive. Columnar form: the ``bits``
    vote sums are ``bits`` conditional-SUM aggregates in ONE (id)-keyed
    groupBy — no bit explode, so input rows never multiply (at 100 TB the
    exploded form shuffles 60x the token count; this shuffles the token
    count once, with map-side partial sums).
    """
    # NULL tokens must be IGNORED, not voted: h60(NULL) is NULL, the bit
    # test evaluates to NULL, and when().otherwise(-1) would count every
    # null row as a -1 vote on all bits — two docs with identical real
    # tokens but different null counts would sketch differently. A doc
    # whose tokens are ALL null gets no sketch row
    # (more honest than the all-zeros sketch the bias produced).
    # Vote/assembly expressions as SQL TEXT parsed JVM-side: composing the
    # conditional-sum + bit-assembly Columns through py4j cost ~0.95 s of
    # pure driver time per call (measured: a zero-jobs gap in the job
    # timeline).
    # PACKED COUNTERS (a narrower shuffle and fewer aggregate-buffer
    # updates): instead of ``bits`` ±1 vote sums, each
    # int64 aggregate packs the set-bit COUNTS of TWO sketch positions in
    # 31-bit slots — sum((h>>j & 1) + ((h>>j' & 1) << 31)) — halving the
    # per-row buffer updates AND the shuffled aggregate width. The vote
    # sign is recovered exactly: vote_j = 2*cnt_j - n > 0  <=>
    # 2*cnt_j > n, with cnt_j = (packed >> slot) & (2^31-1). No
    # cross-slot carry while a doc has < 2^31 (non-null) tokens — a
    # multi-gigabyte single row, far past the engine's row-size envelope.
    # Measured at sf0.1: the 60-sum vote aggregate added ~0.65 s over the
    # bare per-doc count; the packed form ~0.1 s. Sketches byte-identical
    # (pinned by test_text_functions' packed-vs-unpacked pin).
    th = (tokened.select(F.col(id_col), h60(F.col(token_col)).alias("__th"))
          .filter(F.col("__th").isNotNull()))
    n_groups = (bits + 1) // 2
    packed = []
    for g in range(n_groups):
        lo, hi = 2 * g, 2 * g + 1
        addend = f"(shiftright(__th, {lo}) & 1)"
        if hi < bits:
            addend += f" + shiftleft(shiftright(__th, {hi}) & 1, 31)"
        packed.append(f"sum({addend}) AS __p{g}")
    summed = th.groupBy(id_col).agg(
        F.expr("count(*) AS __n"), *[F.expr(p) for p in packed])

    def cnt(j: int) -> str:
        g, slot = j // 2, j % 2
        return (f"(__p{g} & {(1 << 31) - 1})" if slot == 0
                else f"(shiftright(__p{g}, 31))")

    sketch_sql = " + ".join(
        f"(CASE WHEN 2 * {cnt(j)} > __n THEN CAST({1 << j} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits))
    return summed.selectExpr(f"`{id_col}`", f"({sketch_sql}) AS `{out_col}`")
