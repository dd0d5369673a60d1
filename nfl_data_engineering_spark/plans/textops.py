"""Text-analysis + document-dedup query catalog (LLM-pipeline extension).

Every sketch (MinHash, SimHash, fingerprint) is built on the md5-based h60
primitive so the DuckDB oracle reproduces the *same algorithm* bit-for-bit —
the oracle checks the full pipeline, not just a weaker proxy.

Scale notes (100 TB):
- shingle/token explodes are map-side only; every groupBy keys on (doc, ...)
  — uniform, no skew.
- LSH candidate generation joins on (band, band_key): equi-join, tiny output;
  exact jaccard verification runs only on candidates.
- the exact-jaccard baseline (no LSH) keys the self-join on shingle; at scale
  add a document-frequency cap on shingles (drop df > threshold) — noted
  inline, not needed at sf.
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import (Column, DataFrame, SparkSession, Window,
                         functions as F)

from ..functions.hashing import (
    DEFAULT_JACCARD_THRESHOLD as hashing_default_threshold, MERSENNE_P,
    NUM_HASHES, OPH_BINS, OPH_DENS_BASE, h60, h60_py, h60_sql,
    minhash_band_config, minhash_bands_arrays, oph_bands_fast, simhash)
from ..functions.similarity import (candidate_pairs, capped_overlap,
                                    verify_jaccard_arrays)
from ..functions.text import (LANG_MARKERS, STOPWORDS, WORD_RE, doc_fingerprint,
                              explode_shingle_hashes, explode_tokens, lang_id,
                              regex_token_count, shingle_hash_arrays, shingles,
                              tokens)
from ..storage import park_frame, pin, stage
from .base import (QueryDef, load, rank_exact_accuracy, recall_ppm,
                   scoped_cached_plan_aqe, sql_recall_ppm)

# DuckDB twin of functions/text.py tokens().
SQL_TOKENS = "list_filter(regexp_split_to_array(lower({col}), '\\s+'), t -> t != '')"


def _sql_shingles_cte(n: int = 3, rel: str = "documents") -> str:
    """CTEs producing (doc_id, shingle) distinct word-3-gram rows from
    ``rel`` — the documents view by default, or a corpus CTE a caller
    defined upstream (q_auto_route_oph_join's super-doc fixture)."""
    toks = SQL_TOKENS.format(col="text")
    return f"""
toks AS (SELECT doc_id, {toks} AS tk FROM {rel}),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(tk) - {n - 1}, 0)),
                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
  FROM toks)
"""


def _sql_shh_ctes(rel: str = "documents") -> str:
    """_sql_shingles_cte plus ``shh`` (doc_id, sh60): the distinct
    shingle hashes every shingle-set oracle works on."""
    return f"""{_sql_shingles_cte(3, rel)},
shh AS (SELECT DISTINCT doc_id, {h60_sql('shingle')} AS sh60 FROM sh)"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def q_dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one groupBy on md5(text) — the A1
    full-row dedup generalized to content identity."""
    docs = load(spark, sf_dir, "documents")
    return (docs.groupBy(F.md5("text").alias("text_hash"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies")))


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup (the scale path)
# ---------------------------------------------------------------------------

# NUM_HASHES is imported from functions.hashing (single source with the
# band derivation and the front door's default budget) and re-exported
# here for the entries and tests that always read it from textops.
# The threshold likewise aliases hashing.DEFAULT_JACCARD_THRESHOLD:
# the band kernels' bands=None default resolves against
# THAT constant, so the catalog threshold and the kernel default cannot
# drift apart.
JACCARD_THRESHOLD = hashing_default_threshold
# Band count DERIVED from the threshold via the shared S-curve rule
# (functions.hashing.minhash_band_config) rather than pinned at 16:
# 0.8 under the 64-hash budget resolves to the proven 64x16 config,
# and re-tuning JACCARD_THRESHOLD re-derives the banding instead of
# silently re-inheriting 0.8-tuned recall.
NUM_BANDS = minhash_band_config(JACCARD_THRESHOLD, NUM_HASHES)[1]


def _text_banded_join(sharr: DataFrame, threshold: float,
                      sketch: str) -> DataFrame:
    """Banded-sketch bucketing -> candidate equi-join -> exact jaccard
    verify over the per-doc hash-array frame (doc_id, sh_arr); returns
    (id1, id2, score) with score >= ``threshold``. The band config is
    derived from the threshold (64x16 at 0.8, 64x32 at 0.5). ``sketch``
    picks the band kernel: 'kdraw' (row-local 64-draw MinHash) or 'oph'
    (one draw per shingle; its slot groupBy needs per-shingle rows, so
    they come from one row-local explode of the arrays).

    The bands are cached because both candidate sides read them, and
    filled eagerly: bands.count() reads ``sharr``, so it also fills a
    lazily-cached ``sharr`` in the same job, and the verify then reads
    warm arrays. Within one job the block manager's loading locks
    compute each partition once, so a separate sharr.count() would only
    add a pass-shaped job."""
    n_hashes, n_bands = minhash_band_config(threshold)
    if sketch == "oph":
        bands = oph_bands_fast(
            sharr.select("doc_id", F.explode("sh_arr").alias("sh60")),
            "doc_id", "sh60", n_hashes, n_bands, hashed=True)
    else:
        bands = minhash_bands_arrays(sharr, "doc_id", "sh_arr", n_hashes,
                                     n_bands)
    bands = pin(bands)
    bands.count()   # eager: both candidate sides race a lazy cache
    cand = candidate_pairs(bands, "doc_id", ["band", "band_key"],
                           "id1", "id2")
    return verify_jaccard_arrays(sharr, cand, threshold,
                                 c1="id1", c2="id2", score_col="score")


def _minhash_pairs(spark: SparkSession, sf_dir: str,
                   sharr: DataFrame | None = None,
                   sketch: str = "kdraw") -> DataFrame:
    """Verified near-dup pairs (d1, d2, jaccard) with jaccard >=
    JACCARD_THRESHOLD over the documents table: _text_banded_join at the
    catalog threshold, with the entries' column names.

    A caller that already holds the pinned shingle-array frame passes it
    as ``sharr``, so the plan is cached and released exactly once;
    otherwise it is pinned here and filled by the bands' eager count."""
    if sharr is None:
        docs = load(spark, sf_dir, "documents")
        sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    pairs = _text_banded_join(sharr, JACCARD_THRESHOLD, sketch)
    return pairs.select(F.col("id1").alias("d1"), F.col("id2").alias("d2"),
                        F.col("score").alias("jaccard"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) -> 16-band LSH bucketing -> candidate pairs -> exact
    jaccard verification on candidates only.

    The only all-pairs work happens inside LSH buckets; everything else is
    linear scans + equi-joins. This is the 100 TB near-dedup shape.

    Shingles are reduced to their 60-bit hash once, up front: the minhash
    draws, the size counts, and the intersection join all run on int64 keys
    instead of shingle strings (same result on both engines — the oracle
    hashes identically), and within-doc shingle dedup happens row-locally
    via array_distinct — no dropDuplicates shuffle."""
    pairs = _minhash_pairs(spark, sf_dir)
    return pairs.select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivor selection: connected components over the MinHash
    pair graph, canonical document = component minimum.

    The 'given pairs, keep one copy per cluster' step every dedup pipeline
    ends with. Iterative min-label propagation: each round every node takes
    the min label among itself and its neighbors; converges in O(graph
    diameter) rounds (near-dup clusters are shallow — a handful of joins).
    Each round is one equi-join + one groupBy; the driver only checks a
    scalar convergence sum (operators/dedup.py:connected_components).
    Oracle: DuckDB recursive CTE computing min reachable id — same
    fixpoint, declaratively."""
    from ..operators.dedup import connected_components
    # labels is localCheckpoint-materialized inside connected_components,
    # so the pair caches are out of the result's lineage: the stage
    # releases them once it returns
    with stage():
        pairs = _minhash_pairs(spark, sf_dir).select("d1", "d2")
        labels = connected_components(pairs, "d1", "d2")
    park_frame(labels)
    return (labels.groupBy(F.col("label").alias("component"))
            .agg(F.count("*").alias("n_docs"),
                 F.max("n").alias("max_doc_id")))


def _labeled_docs(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """Left-join CC labels onto the corpus: one row per document, label
    NULL for docs in no near-dup pair. The labels frame is
    |docs-in-pairs| rows — small against the corpus — so this join
    broadcasts at 100 TB. ONE copy shared by the survivor entries so
    they cannot drift on component identity."""
    return docs.join(labels.withColumnRenamed("n", "doc_id"),
                     "doc_id", "left")


def q_dedup_survivor_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup deliverable itself: one row per document with its
    canonical id (component minimum over the MinHash near-dup graph;
    itself when it has no near-duplicates) and a keep/drop flag — the
    table a corpus build joins against to filter the training set. Same
    components machinery as q_dedup_components, finished with one left
    join back to the full corpus (docs not in any pair are singleton
    survivors). At 100 TB the labels frame is |docs-in-pairs| rows —
    small against the corpus — so the finishing join broadcasts."""
    from ..operators.dedup import connected_components
    docs = load(spark, sf_dir, "documents").select("doc_id")
    with stage():        # labels checkpointed -> caches out of lineage
        pairs = _minhash_pairs(spark, sf_dir).select("d1", "d2")
        labels = connected_components(pairs, "d1", "d2")
    park_frame(labels)
    canon = F.coalesce(F.col("label"), F.col("doc_id"))
    return (_labeled_docs(docs, labels)
            .select("doc_id", canon.alias("canonical_doc_id"),
                    (canon == F.col("doc_id")).cast("int")
                    .alias("is_survivor")))


def q_dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: per near-dup component keep the
    HIGHEST-QUALITY member (longest document by n_chars, deterministic
    min-doc_id tiebreak) instead of q_dedup_survivor_table's min-id
    canonical — the rule a production corpus build actually applies
    (among near-duplicates, keep the most complete copy; min-id is the
    right GRAPH identity but an arbitrary CONTENT choice). Same MinHash
    pair graph + connected components as the survivor table. The
    survivor pick is ONE map-side-combinable max(struct(quality,
    -doc_id)) per component — the semantic-dedup fine-assignment shape,
    no per-component window sort — computed over LABELED members only
    (|docs-in-pairs| rows; a full-corpus groupBy would shuffle ~|corpus|
    rows because every singleton is its own component, and the finishing
    join would be corpus-vs-corpus), so the survivor frame is one row
    per MULTI-member component and both finishing joins broadcast at
    100 TB; singletons coalesce to themselves.

    Reference parity: generalizes the keep-one-per-key preference rule
    of the odds dedup (odds_data_collector.py:40-44) from key equality
    to near-dup clusters with a quality preference."""
    from ..operators.dedup import connected_components
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    with stage():        # labels checkpointed -> caches out of lineage
        pairs = _minhash_pairs(spark, sf_dir).select("d1", "d2")
        labels = connected_components(pairs, "d1", "d2")
    park_frame(labels)
    member = _labeled_docs(docs, labels).withColumn(
        "component", F.coalesce("label", "doc_id"))
    surv = (member.filter(F.col("label").isNotNull())
            .groupBy("component")
            .agg(F.max(F.struct(F.col("n_chars").alias("q"),
                                (-F.col("doc_id")).alias("neg_id")))
                 .alias("m"))
            .select("component",
                    (-F.col("m.neg_id")).alias("survivor_doc_id")))
    final_surv = F.coalesce("survivor_doc_id", "doc_id")
    return (member.join(surv, "component", "left")
            .select("doc_id", "component",
                    final_surv.alias("survivor_doc_id"),
                    (F.col("doc_id") == final_surv).cast("int")
                    .alias("is_survivor")))


def sql_minhash_band_ctes(num_hashes: int, num_bands: int) -> str:
    """DuckDB replay of the MinHash banding pipeline, parameterized over
    the band configuration so threshold-derived configs (the
    similarity_join front door derives (b, r) from the caller's
    threshold) get the same independent oracle as the
    module-constant 64x16 entries."""
    return f"""{_sql_shh_ctes()},
params AS (
  SELECT seed,
         1 + ({h60_sql("'mh_a_' || seed")} % {MERSENNE_P - 1}) AS a,
         ({h60_sql("'mh_b_' || seed")} % {MERSENNE_P}) AS b
  FROM (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed)),
sig AS (
  SELECT doc_id, seed, MIN((a * (sh60 % {MERSENNE_P}) + b) % {MERSENNE_P}) AS minhash
  FROM shh CROSS JOIN params GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, seed // {num_hashes // num_bands} AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY 1, 2)"""


def _sql_pair_tail(threshold: float) -> str:
    """CTEs from a ``bands`` relation to verified ``pairs`` — the
    candidate self-join + exact-jaccard verify shared by every banded
    sketch family (k-draw MinHash and OPH bands have identical
    downstream shape)."""
    return f"""cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id),
{_sql_verify_tail("cand", threshold)}"""


def _sql_verify_tail(cand: str, threshold: float) -> str:
    """CTEs from the candidate relation ``cand`` (d1, d2) over the
    ``shh`` shingle hashes to ``pairs`` (d1, d2, jaccard): the exact
    jaccard verify of every banded oracle, whatever its candidates."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY 1),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS i
  FROM {cand} c JOIN shh x ON x.doc_id = c.d1 JOIN shh y ON y.doc_id = c.d2 AND y.sh60 = x.sh60
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2, i::DOUBLE / (s1.sz + s2.sz - i)::DOUBLE AS jaccard
  FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE i::DOUBLE / (s1.sz + s2.sz - i)::DOUBLE >= {threshold})"""


def sql_minhash_pair_ctes(num_hashes: int, num_bands: int,
                          threshold: float) -> str:
    return f"""{sql_minhash_band_ctes(num_hashes, num_bands)},
{_sql_pair_tail(threshold)}"""


def sql_oph_band_ctes(num_bins: int, num_bands: int,
                      rel: str = "documents") -> str:
    """DuckDB replay of oph_bands_fast (functions/hashing.py): one
    universal draw per shingle split into (bin, value), per-slot MIN,
    rotation densification with the distance in high bits, then the
    same md5 band keys as the k-draw pipeline. ``rel`` is the corpus
    relation the shingle CTE reads (see _sql_shingles_cte)."""
    rpb = num_bins // num_bands
    return f"""{_sql_shh_ctes(rel)},
oph AS (SELECT doc_id, (sh60 % {MERSENNE_P}) % {num_bins} AS bin,
               (sh60 % {MERSENNE_P}) // {num_bins} AS v FROM shh),
slot AS (SELECT doc_id, bin, MIN(v) AS v FROM oph GROUP BY 1, 2),
slots AS (
  SELECT s.doc_id, js.j,
         MIN(((s.bin - js.j + {num_bins}) % {num_bins}) * {OPH_DENS_BASE} + s.v) AS dens
  FROM slot s CROSS JOIN (SELECT unnest(generate_series(0, {num_bins - 1})) AS j) js
  GROUP BY 1, 2),
bands AS (
  SELECT doc_id, j // {rpb} AS band,
         md5(string_agg(dens, ',' ORDER BY j)) AS band_key
  FROM slots GROUP BY 1, 2)"""


def sql_oph_pair_ctes(num_bins: int, num_bands: int, threshold: float,
                      rel: str = "documents") -> str:
    return f"""{sql_oph_band_ctes(num_bins, num_bands, rel)},
{_sql_pair_tail(threshold)}"""


_SQL_MINHASH_BAND_CTES = sql_minhash_band_ctes(NUM_HASHES, NUM_BANDS)
_SQL_MINHASH_PAIR_CTES = sql_minhash_pair_ctes(NUM_HASHES, NUM_BANDS,
                                               JACCARD_THRESHOLD)

ORACLE_MINHASH_LSH = f"""
WITH {_SQL_MINHASH_PAIR_CTES}
SELECT d1, d2, ROUND(jaccard, 6) AS jaccard FROM pairs
"""

def sql_component_ctes(pairs: str = "pairs", c1: str = "d1", c2: str = "d2",
                       id_col: str = "doc_id") -> str:
    """DuckDB replay of connected components over the (c1, c2) edge
    relation ``pairs``: ``comp`` (id_col, component) holds each node's
    minimum reachable id, declaratively. Every component-consuming
    oracle (text and embedding dedup) uses this one copy."""
    return f"""\
bi AS (SELECT {c1} AS a, {c2} AS b FROM {pairs} UNION SELECT {c2}, {c1} FROM {pairs}),
nodes AS (SELECT DISTINCT a AS n FROM bi),
r AS (
  SELECT n AS a, n AS b FROM nodes
  UNION
  SELECT r.a, bi.b FROM r JOIN bi ON r.b = bi.a),
comp AS (SELECT a AS {id_col}, MIN(b) AS component FROM r GROUP BY a)"""


# one row per document: its component minimum, or itself when unpaired
_SQL_SURVIVOR_SELECT = """\
SELECT d.doc_id,
       COALESCE(comp.component, d.doc_id) AS canonical_doc_id,
       CASE WHEN COALESCE(comp.component, d.doc_id) = d.doc_id
            THEN 1 ELSE 0 END AS is_survivor
FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
"""

ORACLE_COMPONENTS = f"""
WITH RECURSIVE {_SQL_MINHASH_PAIR_CTES},
{sql_component_ctes()}
SELECT component, COUNT(*) AS n_docs, MAX(doc_id) AS max_doc_id
FROM comp GROUP BY component
"""

ORACLE_SURVIVOR_TABLE = f"""
WITH RECURSIVE {_SQL_MINHASH_PAIR_CTES},
{sql_component_ctes()}
{_SQL_SURVIVOR_SELECT}"""

ORACLE_QUALITY_SURVIVORS = f"""
WITH RECURSIVE {_SQL_MINHASH_PAIR_CTES},
{sql_component_ctes()},
member AS (
  SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component,
         d.n_chars
  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id),
surv AS (
  SELECT component, doc_id AS survivor_doc_id,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM member)
SELECT m.doc_id, m.component, s.survivor_doc_id,
       CASE WHEN m.doc_id = s.survivor_doc_id THEN 1 ELSE 0
       END AS is_survivor
FROM member m
JOIN (SELECT component, survivor_doc_id FROM surv WHERE rn = 1) s
  ON s.component = m.component
"""


def _star_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket -> star edges (member -> bucket minimum, O(members) per
    bucket) -> exact-jaccard verification against the representative.
    Shared by the star survivor table and the cross-shard audit; the
    shingle cache is pinned (storage.pin). It fills LAZILY: all three
    sharr consumers (bands + both verify sides) materialize inside the
    ONE connected-components probe job, where BlockManager's
    per-partition loading locks guarantee each partition computes once —
    an eager count() is a whole extra pass-shaped job per entry
    (leakage/star walls 1.83/1.48 s with it, 1.79/1.41 s without, at
    sf0.1)."""
    from pyspark.sql import Window
    docs = load(spark, sf_dir, "documents")
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    # bands has exactly ONE consumer here (the bucket-min window), so it
    # is deliberately NOT cached. The groupBy-min + member-join
    # alternative was A/B'd (3-run min at sf0.1): window form
    # 3.93s vs groupBy form 4.18s end-to-end — the extra bands cache
    # fill + join overhead eats the per-stage window-sort savings, and
    # at 100 TB both forms sort |docs x bands| rows on (band, band_key)
    # (window sort vs SMJ sort), so there is no scale argument either.
    bands = minhash_bands_arrays(sharr, "doc_id", "sh_arr", NUM_HASHES,
                                 NUM_BANDS)
    wmin = Window.partitionBy("band", "band_key")
    star = (bands.withColumn("rep", F.min("doc_id").over(wmin))
            .filter(F.col("doc_id") != F.col("rep"))
            .select(F.col("rep").alias("d1"), F.col("doc_id").alias("d2"))
            .distinct())
    return (verify_jaccard_arrays(sharr, star, JACCARD_THRESHOLD)
            .select("d1", "d2"))


def q_dedup_star_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale near-dup survivor table WITHOUT pair enumeration — the
    shape that survives giant duplicate clusters. q_dedup_minhash_lsh's
    contract (every verified pair) is inherently quadratic PER CLUSTER: a
    boilerplate page duplicated m times yields m(m-1)/2 pairs — measured
    319 s at a 100x replica whose clusters hold ~100 copies, with the time
    going to ~10^8 legitimately-enumerated pairs. Dedup doesn't need the
    pairs: it needs the partition. This entry goes bucket -> STAR edges
    (every member links to its bucket MINIMUM: O(members) edges, never
    O(members^2)), verifies each edge's exact jaccard against the
    representative only, then runs the same connected-components +
    survivor finish as q_dedup_survivor_table. Total edge count is
    <= docs x bands regardless of cluster structure — linear in the
    corpus. The trade: membership is certified against a representative,
    not every peer (the SlimPajama/BigCode-style dedup contract); chained
    clusters still merge because shared members link their buckets' reps.

    Reference parity: generalizes odds_data_collector.py:40-44 dedup the
    same way as A1/A2, at corpus scale."""
    from ..operators.dedup import connected_components
    docs = load(spark, sf_dir, "documents")
    with stage():        # labels checkpointed -> caches out of lineage
        verified = _star_verified_pairs(spark, sf_dir)
        labels = connected_components(verified, "d1", "d2")
    park_frame(labels)
    canon = F.coalesce(F.col("label"), F.col("doc_id"))
    return (docs.select("doc_id")
            .join(labels.withColumnRenamed("n", "doc_id"), "doc_id", "left")
            .select("doc_id", canon.alias("canonical_doc_id"),
                    (canon == F.col("doc_id")).cast("int")
                    .alias("is_survivor")))


_SQL_STAR_COMP_CTES = f"""{_SQL_MINHASH_BAND_CTES},
star AS (
  SELECT DISTINCT d1, d2 FROM (
    SELECT MIN(doc_id) OVER (PARTITION BY band, band_key) AS d1,
           doc_id AS d2
    FROM bands)
  WHERE d1 != d2),
{_sql_verify_tail("star", JACCARD_THRESHOLD)},
{sql_component_ctes()}"""

ORACLE_STAR_SURVIVORS = f"""
WITH RECURSIVE {_SQL_STAR_COMP_CTES}
{_SQL_SURVIVOR_SELECT}"""


def q_cross_shard_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does content-hash sharding SPLIT near-dup clusters across shards?
    The audit that decides pipeline ordering: if a near-dup cluster spans
    shards, per-shard dedup misses it — dedup must run before (or across)
    the shard pack. Members of every multi-doc near-dup component (the
    star-edge machinery shared with q_dedup_star_survivors) are joined to
    their h60 % N_SHARDS shard (the exact q_shard_balance assignment);
    the report counts clusters, clusters spanning >1 shard, and the split
    rate in integer ppm. Near-dups have DIFFERENT text (different h60),
    so content-hash sharding scatters them ~uniformly — expect a high
    split rate; exact dups (identical text) co-shard by construction.
    Measuring it turns 'run global dedup first' from folklore into a
    number for this corpus."""
    from ..functions.hashing import h60
    from ..operators.dedup import connected_components
    from .training import N_SHARDS
    docs = load(spark, sf_dir, "documents")
    with stage():        # labels checkpointed -> caches out of lineage
        labels = connected_components(
            _star_verified_pairs(spark, sf_dir), "d1", "d2")
    park_frame(labels)
    members = (labels.withColumnRenamed("n", "doc_id")
               .join(docs.select(
                   "doc_id",
                   F.pmod(h60(F.col("text")), F.lit(N_SHARDS))
                   .alias("shard")), "doc_id"))
    per = (members.groupBy("label")
           .agg(F.count("*").alias("n_docs"),
                F.countDistinct("shard").alias("n_shards")))
    return per.agg(
        F.count("*").alias("n_clusters"),
        F.sum((F.col("n_shards") > 1).cast("int")).cast("bigint")
         .alias("n_split_clusters"),
        F.expr("CASE WHEN count(*) > 0 THEN "
               "sum(CAST(n_shards > 1 AS INT)) * 1000000 div count(*) END")
         .alias("split_ppm"))


def _oracle_cross_shard_audit() -> str:
    from .training import N_SHARDS
    h = h60_sql("text")
    return f"""
WITH RECURSIVE {_SQL_STAR_COMP_CTES},
members AS (
  SELECT comp.component, {h} % {N_SHARDS} AS shard
  FROM comp JOIN documents d ON d.doc_id = comp.doc_id),
per AS (
  SELECT component, COUNT(*) AS n_docs, COUNT(DISTINCT shard) AS n_shards
  FROM members GROUP BY 1)
SELECT COUNT(*) AS n_clusters,
       CAST(SUM(CASE WHEN n_shards > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_split_clusters,
       CAST(CASE WHEN COUNT(*) > 0 THEN
              SUM(CASE WHEN n_shards > 1 THEN 1 ELSE 0 END) * 1000000
              // COUNT(*) END AS BIGINT) AS split_ppm
FROM per
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/valid/test split — the leakage-safe version of
    q_train_test_split. A hash split keyed on doc_id can put two near-
    duplicates of the SAME page on opposite sides of the train/eval
    boundary, silently inflating eval scores; the standard fix (what the
    dedup stage of an LLM data pipeline feeds the split stage) is to key
    the split on the near-dup CLUSTER so whole clusters co-assign. This
    entry reuses the star-edge + connected-components machinery
    (q_dedup_star_survivors) for the clusters, assigns every doc the
    80/10/10 bucket of its CANONICAL id (h60-stable: reruns and appends
    never migrate a doc), and reports per split: doc count, docs in
    multi-doc clusters, and how many docs a naive doc_id-keyed split
    would have placed in a DIFFERENT split than their cluster (the
    quantified leakage the cluster keying prevents). Leakage-freedom is
    structural — one bucket per canonical id — so the audit column
    measures the counterfactual, not a residual.

    Scale shape: everything rides the already-measured star path
    (24.5 s at the 100x replica) plus two row-local
    projections and one |splits|-row rollup; the split assignment itself
    adds no shuffle beyond the survivor join."""
    from ..operators.dedup import connected_components
    docs = load(spark, sf_dir, "documents")
    with stage():        # labels checkpointed -> caches out of lineage
        labels = connected_components(
            _star_verified_pairs(spark, sf_dir), "d1", "d2")
    park_frame(labels)
    canon = F.coalesce(F.col("label"), F.col("doc_id"))

    def bucket(c):
        return h60(F.concat(F.lit("split_"), c.cast("string"))) % 10

    def split_of(b):
        return (F.when(b <= 7, F.lit("train"))
                .when(b == 8, F.lit("valid"))
                .otherwise(F.lit("test")))

    assigned = (docs.select("doc_id")
                .join(labels.withColumnRenamed("n", "doc_id"),
                      "doc_id", "left")
                .select("doc_id",
                        F.col("label").isNotNull().cast("int")
                        .alias("clustered"),
                        split_of(bucket(canon)).alias("split"),
                        # rescued = the resulting SPLIT differs, not just
                        # the raw bucket: buckets 0-7 all map to 'train',
                        # so most bucket migrations are train->train and
                        # counting them would overstate the leakage the
                        # cluster keying prevents
                        (split_of(bucket(canon))
                         != split_of(bucket(F.col("doc_id"))))
                        .cast("int").alias("moved")))
    return (assigned.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("clustered").cast("bigint").alias("n_clustered_docs"),
                 F.sum("moved").cast("bigint").alias("n_rescued_docs")))


ORACLE_LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE {_SQL_STAR_COMP_CTES},
assigned AS (
  SELECT d.doc_id,
         CASE WHEN comp.doc_id IS NOT NULL THEN 1 ELSE 0 END AS clustered,
         {h60_sql("'split_' || COALESCE(comp.component, d.doc_id)::VARCHAR")} % 10
           AS cb,
         {h60_sql("'split_' || d.doc_id::VARCHAR")} % 10 AS nb
  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id),
split_map AS (
  SELECT doc_id, clustered,
         CASE WHEN cb <= 7 THEN 'train'
              WHEN cb = 8 THEN 'valid' ELSE 'test' END AS split,
         CASE WHEN nb <= 7 THEN 'train'
              WHEN nb = 8 THEN 'valid' ELSE 'test' END AS naive_split
  FROM assigned)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(clustered) AS BIGINT) AS n_clustered_docs,
       CAST(SUM(CASE WHEN split <> naive_split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rescued_docs
FROM split_map GROUP BY 1
"""


def q_incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the steady-state shape of a 100 TB
    corpus pipeline, where batches arrive against an ALREADY-deduped
    corpus and the work must be O(incoming x matched), never a re-dedup
    of the whole corpus. Existing corpus = doc_id % 4 != 0 (standing in
    for the persisted fingerprint tables a real pipeline keeps); incoming
    batch = doc_id % 4 == 0. Two layers, each an equi-join against
    existing-side state only — no incoming-vs-incoming work at all:

    1. EXACT: md5 content fingerprints of the existing corpus (the
       persisted hash table), left-joined by hash.
    2. NEAR: MinHash band keys, with candidates restricted to
       (incoming band) x (existing band) — the LSH index IS the persisted
       state; each candidate verified by exact shingle jaccard against
       the matched existing doc only.

    Verdict per incoming doc: 'exact_dup' (ref = min existing doc with
    identical content), else 'near_dup' (ref = min existing doc passing
    the jaccard gate), else 'new'. ref_doc_id = -1 for new docs (no
    nullable-int dtype roulette across engines)."""
    docs = load(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % 4 == 0
    ex_min = (docs.filter(~is_inc)
              .groupBy(F.md5("text").alias("h"))
              .agg(F.min("doc_id").alias("exact_ref")))
    inc = docs.filter(is_inc).select("doc_id", F.md5("text").alias("h"))
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    # cache bands: the incoming and existing sides below each consume it,
    # and without the cache each side re-runs the 64-draw minhash fold
    # over the full corpus (measured ~0.7s of the entry at sf0.1).
    # ONE eager fill: bands.count() reads sharr, so it fills BOTH caches
    # in a single job (a separate sharr.count() measured 1.71 vs 1.52 s
    # at sf0.1); the verify tail then reads the already-warm sharr.
    bands = pin(minhash_bands_arrays(sharr, "doc_id", "sh_arr", NUM_HASHES,
                                     NUM_BANDS))
    bands.count()
    cand = candidate_pairs(bands, "doc_id", ["band", "band_key"], "di", "de",
                           probe=is_inc)
    near = (verify_jaccard_arrays(sharr, cand, JACCARD_THRESHOLD,
                                  c1="di", c2="de")
            .groupBy("di").agg(F.min("de").alias("near_ref")))
    status = (F.when(F.col("exact_ref").isNotNull(), F.lit("exact_dup"))
              .when(F.col("near_ref").isNotNull(), F.lit("near_dup"))
              .otherwise(F.lit("new")))
    return (inc.join(ex_min, "h", "left")
            .join(near.withColumnRenamed("di", "doc_id"), "doc_id", "left")
            .select("doc_id", status.alias("status"),
                    F.coalesce("exact_ref", "near_ref", F.lit(-1))
                    .alias("ref_doc_id")))


ORACLE_INCREMENTAL_DEDUP = f"""
WITH {_SQL_MINHASH_BAND_CTES},
exm AS (SELECT md5(text) AS h, MIN(doc_id) AS exact_ref
        FROM documents WHERE doc_id % 4 <> 0 GROUP BY 1),
inc AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 = 0),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2   -- d1: incoming, d2: existing
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
{_sql_verify_tail("cand", JACCARD_THRESHOLD)},
near AS (SELECT d1 AS di, MIN(d2) AS near_ref FROM pairs GROUP BY 1)
SELECT i.doc_id,
       CASE WHEN e.exact_ref IS NOT NULL THEN 'exact_dup'
            WHEN n.near_ref IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status,
       COALESCE(e.exact_ref, n.near_ref, -1) AS ref_doc_id
FROM inc i
LEFT JOIN exm e ON e.h = i.h
LEFT JOIN near n ON n.di = i.doc_id
"""


# ---------------------------------------------------------------------------
# Exact n-gram jaccard (no LSH) — correctness baseline for the LSH path
# ---------------------------------------------------------------------------

NGRAM_DF_CAP = 500


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs 3-gram jaccard >= 0.7 via shingle-keyed self-join (no
    sketching), with the shingle DOCUMENT-FREQUENCY CAP that makes the
    self-join survive 100 TB: one shingle appearing in k docs contributes
    k^2/2 joined rows, so a single boilerplate phrase ("all rights
    reserved") turns the join quadratic. Shingles with df > NGRAM_DF_CAP
    are dropped from the INTERSECTION join only (set sizes stay exact, so
    a binding cap can only undercount jaccard — the conservative
    direction for a >= threshold). The cap (500) sits far above the
    observed max df at test scales (25 at sf0.1), so results here are
    exact; the oracle applies the identical cap. Shingles join by 60-bit
    hash, not string (identical result on both engines; int64 shuffle
    keys; row-local within-doc dedup)."""
    docs = load(spark, sf_dir, "documents")
    sh = pin(explode_shingle_hashes(docs, "doc_id", "text", n=3))
    jac = _overlap_jaccard()
    return (capped_overlap(sh, NGRAM_DF_CAP)
            .filter(jac >= 0.7)
            .select("d1", "d2", F.round(jac, 6).alias("jaccard")))


def _overlap_jaccard() -> Column:
    """Jaccard of a capped_overlap row: i / (sz1 + sz2 - i) in double."""
    return (F.col("i").cast("double")
            / (F.col("sz1") + F.col("sz2") - F.col("i")).cast("double"))


def sql_capped_overlap_ctes(cap: int) -> str:
    """DuckDB spec of the df-capped exact overlap over ``shh`` and
    ``sizes``: ``overlap`` holds (d1, d2, i, sz1, sz2) for d1 < d2, with
    i counting shared shingles of document frequency <= ``cap`` and
    sz1/sz2 the full set sizes. The one copy every capped-truth oracle
    uses; independent of the Spark kernel (functions/similarity.py
    capped_overlap) it checks."""
    return f"""rare AS (SELECT sh60 FROM shh GROUP BY sh60
         HAVING COUNT(*) <= {cap}),
capped AS (SELECT shh.doc_id, shh.sh60 FROM shh JOIN rare USING (sh60)),
cinter AS (
  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
  FROM capped x JOIN capped y ON y.sh60 = x.sh60 AND x.doc_id < y.doc_id
  GROUP BY 1, 2),
overlap AS (
  SELECT d1, d2, i, s1.sz AS sz1, s2.sz AS sz2
  FROM cinter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2)"""


# jaccard of an ``overlap`` row, the oracle twin of _overlap_jaccard
_SQL_OVERLAP_JACCARD = "i::DOUBLE / (sz1 + sz2 - i)::DOUBLE"

_SQL_CAPPED_OVERLAP = f"""{_sql_shh_ctes()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY 1),
{sql_capped_overlap_ctes(NGRAM_DF_CAP)}"""

ORACLE_NGRAM_JACCARD = f"""
WITH {_SQL_CAPPED_OVERLAP}
SELECT d1, d2, ROUND({_SQL_OVERLAP_JACCARD}, 6) AS jaccard
FROM overlap WHERE {_SQL_OVERLAP_JACCARD} >= 0.7
"""


# Asymmetric-containment gate, integer per-cent: C(sub, super) =
# |S_sub ∩ S_super| / |S_sub| >= 0.90 is evaluated as i*100 >= sz_sub*90
# so neither engine touches a float at the decision boundary (integer
# arithmetic at every checked gate).
CONTAINMENT_PCT = 90


@scoped_cached_plan_aqe
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT join: ordered pairs (sub, super)
    with |S_sub ∩ S_super| / |S_sub| >= 0.90 — the near-SUPERSET dedup
    symmetric jaccard cannot express (a short document quoted inside a
    boilerplate wrapper has jaccard ~ |sub|/|super| -> 0 against its
    host, but containment 1.0: exactly the quote/wrapper duplication an
    LLM corpus build wants to catch). Exact duplicates emit BOTH
    directions by definition (each contains the other).

    Same scale machinery as q_ngram_jaccard_pairs: candidates come from
    the df-capped shingle equi-join (one shingle in k docs contributes
    k^2/2 joined rows, so the NGRAM_DF_CAP bound is what keeps the
    self-join linear-ish at 100 TB; the cap binds the INTERSECTION only,
    set sizes stay exact, so a binding cap can only UNDERCOUNT
    containment — the conservative direction for a >= gate). The
    unordered (d1 < d2) intersection is computed ONCE and both ordered
    gates are row-local projections of it — no second join. The
    emitted score is integer per-mille (i*1000 div sz_sub), engine-
    portable by construction. A sketch route for containment exists in
    the literature (asymmetric minwise hashing); this entry is the
    exact join-bounded form, the same role the df-capped jaccard join
    plays beside the MinHash family.

    Reference parity: generalizes the dedup contract of
    odds_data_collector.py:40-44 to asymmetric near-superset identity."""
    docs = load(spark, sf_dir, "documents")
    sh = pin(explode_shingle_hashes(docs, "doc_id", "text", n=3))
    sh.count()   # eager: sizes/rare/capped consumers race a lazy cache,
    #              and the fill must land inside the cached-plan-AQE scope
    return (containment_directions(capped_overlap(sh, NGRAM_DF_CAP),
                                   CONTAINMENT_PCT * 10)
            .select("sub_doc_id", "super_doc_id",
                    F.expr("i * 1000 div sz_sub")
                     .alias("containment_x1000")))


def containment_directions(ov: DataFrame, t_pm: int) -> DataFrame:
    """Ordered containment pairs (sub_doc_id, super_doc_id, i, sz_sub)
    from unordered overlap rows (d1, d2, i, sz1, sz2): each direction
    passes when i * 1000 >= sz_sub * ``t_pm`` (integer per-mille, so no
    float touches the decision). BOTH ordered gates ride one row-local
    explode over the unordered pair row — a fwd/bwd UNION would give
    the overlap frame two consumers and execute the whole df-capped join
    DAG twice (measured 26.0 s vs 17.8 s for the single-DAG jaccard twin
    at the 10x replica before this form). NULL array slots (direction
    fails its gate) are dropped by the isNotNull filter."""
    def one(sub: str, sup: str, sz: str):
        return F.when(
            F.expr(f"i * 1000 >= {sz} * {t_pm}"),
            F.struct(F.col(sub).alias("sub_doc_id"),
                     F.col(sup).alias("super_doc_id"),
                     F.col("i"), F.col(sz).alias("sz_sub")))

    return (ov.select(F.explode(F.array(one("d1", "d2", "sz1"),
                                        one("d2", "d1", "sz2"))).alias("p"))
            .filter(F.col("p").isNotNull())
            .select("p.*"))


# DuckDB spec of the ordered containment pairs at the 0.90 gate: dirs
# (sub, sup, i, sz_sub) over the capped overlap, one direction per
# UNION ALL arm
SQL_CONTAINMENT_DIRS = f"""{_SQL_CAPPED_OVERLAP},
dirs AS (
  SELECT d1 AS sub, d2 AS sup, i, sz1 AS sz_sub
  FROM overlap WHERE i * 100 >= sz1 * {CONTAINMENT_PCT}
  UNION ALL
  SELECT d2, d1, i, sz2
  FROM overlap WHERE i * 100 >= sz2 * {CONTAINMENT_PCT})"""

ORACLE_CONTAINMENT_JOIN = f"""
WITH {SQL_CONTAINMENT_DIRS}
SELECT sub AS sub_doc_id, sup AS super_doc_id,
       i * 1000 // sz_sub AS containment_x1000
FROM dirs
"""


def containment_prefix_pairs(sh: DataFrame, t_pm: int) -> DataFrame:
    """Ordered containment pairs via the ASYMMETRIC PREFIX BOUND — the
    scale route for containment that q_containment_join's docstring
    names, chosen over asymmetric minwise hashing
    because a symmetric sketch cannot band containment: C(A,B) >= t
    only implies jaccard >= t/(1 + |B|/|A| - t), which -> 0 as the
    size ratio grows — the quote-inside-boilerplate pair the operator
    exists to catch is exactly the pair a jaccard sketch never
    candidates. The prefix bound has no such degeneracy AND is
    lossless (set-containment-join literature: PRETTI/PIEJoin family).

    Candidate rule: order each doc's shingles by global rarity (df asc,
    sh60 asc) and probe only the SUB side's prefix of length
    sz - ceil(t*sz) + 1 against the df-capped token INDEX (the super
    side joins ALL its capped tokens — the asymmetric side cannot be
    prefix-bounded since t does not constrain the super's share).
    Completeness vs the df-capped truth spec (ORACLE_CONTAINMENT_JOIN):
    a pair passing the capped gate shares i >= ceil(t*sz_sub) capped
    tokens; the sub's suffix holds only ceil(t*sz_sub) - 1 tokens, so
    by pigeonhole at least one shared capped token sits in the prefix
    and (being capped) in the index — every truth pair is a candidate,
    at any token ordering; rarity order is the FAN-OUT optimization
    (prefix slots hold the lowest-df tokens, so per-token index matches
    are minimal; the boilerplate shingle that forces the plain
    self-join's df cap sits at the end of every ordering and never
    probes). Verification recomputes the capped intersection on
    candidates only — both direction gates row-local on the unordered
    candidate row, exactly q_containment_join's explode form.

    WIN CONDITION (measured in fresh sessions, rows equal between the
    two kernels in every run): the route beats the
    plain df-capped self-join when the corpus has a torso of
    mid-frequency shingles (templates/boilerplate with df in the
    tens-to-hundreds, under the cap) and sparse true pairs — there the
    self-join pays sum(df^2) over the torso while the route probes
    only each doc's rare tail. On DENSE intersect-graphs (replicated
    corpora where most candidate pairs are true pairs) the shared
    verification stage dominates both routes and the plain join's
    lower constant wins — that corpus is the one you exact-dedup
    first. Measured: 1M docs over 1000 df=500 templates, route
    126.9-301.7 s vs 906.9 s; the dense sf0.1 x10 replica (10-way
    exact-dup groups), route 97.7 s vs 29.2 s. A PPJoin-style positional filter
    was measured and REJECTED: the global rarity order correlates across docs,
    so it cut candidates only ~17% while paying a second window-ranked pass.

    ``t_pm``: integer per-mille threshold (900 = the 0.90 gate);
    ceil(t*sz) is the integer form (t_pm*sz + 999) div 1000, so no
    float touches the decision boundary. Returns (sub_doc_id,
    super_doc_id, i, sz_sub) — callers project the score shape they
    need (integer per-mille or rounded double)."""
    if not 0 < t_pm <= 1000:
        raise ValueError(f"containment threshold per-mille must be in "
                         f"(0, 1000], got {t_pm}")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    dfreq = sh.groupBy("sh60").agg(F.count("*").alias("df"))
    ranked = (sh.join(dfreq, "sh60")
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("df", "sh60"))))
    pre = (ranked.join(sizes, "doc_id")
           .filter(F.col("rn") <= F.expr(
               f"sz - (({t_pm} * sz + 999) div 1000) + 1"))
           .select(F.col("doc_id").alias("d_sub"), "sh60"))
    rare = dfreq.filter(F.col("df") <= NGRAM_DF_CAP).select("sh60")
    idx = sh.join(rare, "sh60").select(F.col("doc_id").alias("d_sup"),
                                       "sh60")
    cand = (pre.join(idx, "sh60")
            .filter(F.col("d_sub") != F.col("d_sup"))
            .select(F.least("d_sub", "d_sup").alias("d1"),
                    F.greatest("d_sub", "d_sup").alias("d2"))
            .distinct())
    return containment_directions(capped_overlap(sh, NGRAM_DF_CAP, cand),
                                  t_pm)


@scoped_cached_plan_aqe
def q_containment_sketch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment scale route as a checked entry:
    containment_prefix_pairs at the standard 0.90 gate, emitting the
    SAME (sub_doc_id, super_doc_id, containment_x1000) schema as
    q_containment_join. The oracle is the INDEPENDENT df-capped
    quadratic spec (ORACLE_CONTAINMENT_JOIN, identical column aliases),
    so a hash match proves the prefix-bound algebra LOSSLESS vs the
    full self-join — the same oracle discipline as
    q_prefix_filter_join's uncapped-quadratic spec. The candidate pass
    probes ~(1-t) of each doc's tokens (its rarity prefix) against the
    index instead of joining every token against every token; when that
    wins is measured in containment_prefix_pairs' docstring."""
    docs = load(spark, sf_dir, "documents")
    sh = pin(explode_shingle_hashes(docs, "doc_id", "text", n=3))
    sh.count()   # eager: sizes/dfreq/prefix/index consumers race a lazy cache
    return (containment_prefix_pairs(sh, CONTAINMENT_PCT * 10)
            .select("sub_doc_id", "super_doc_id",
                    F.expr("i * 1000 div sz_sub")
                     .alias("containment_x1000")))


@scoped_cached_plan_aqe
def q_containment_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest-metrics audit for the containment route, completing the
    measured-recall discipline across every candidate-pruning family
    (MinHash/OPH/SRP/PQ audits): ordered-pair count from the df-capped
    self-join truth (q_containment_join's machinery) vs the
    prefix-bounded route's verified pairs, as counts + recall in exact
    integer ppm. The prefix bound is lossless BY THEOREM (see
    containment_prefix_pairs), so the oracle predicts the route count
    FROM THE TRUTH SPEC — recall_ppm must come back exactly 1000000,
    and any lost pair hash-mismatches BOTH count columns; unlike the
    probabilistic sketch audits there is no tolerance band to hide in.
    Both counts share one shingle cache; the 1-row x 1-row crossJoin is
    the audits' bounded scaffold shape."""
    docs = load(spark, sf_dir, "documents")
    sh = pin(explode_shingle_hashes(docs, "doc_id", "text", n=3))
    sh.count()
    truth = (containment_directions(capped_overlap(sh, NGRAM_DF_CAP),
                                    CONTAINMENT_PCT * 10)
             .agg(F.count("*").alias("n_truth")))
    route = (containment_prefix_pairs(sh, CONTAINMENT_PCT * 10)
             .agg(F.count("*").alias("n_route")))
    return recall_ppm(truth, route, "n_truth", "n_route")


ORACLE_CONTAINMENT_RECALL = f"""
WITH {SQL_CONTAINMENT_DIRS},
truth AS (SELECT COUNT(*) AS n_truth FROM dirs)
-- the prefix bound is lossless by theorem, so the independent spec
-- predicts the route count from the truth count: a single lost pair
-- hash-mismatches n_route (and recall_ppm) against the live route
SELECT n_truth, n_truth AS n_route,
       CAST(CASE WHEN n_truth > 0 THEN 1000000 END AS BIGINT) AS recall_ppm
FROM truth
"""


def exact_jaccard_count(sh: DataFrame, threshold: float) -> DataFrame:
    """1-row ``n_exact`` aggregate: the df-capped shingle self-join
    exact-jaccard pair count at ``threshold`` — the quadratic truth
    baseline of the MinHash recall audits. ONE implementation serves
    every threshold (q_minhash_recall_audit at 0.8,
    similarity_api.q_minhash_recall_t05 at 0.5 — two drifting copies
    would silently measure different 'truths')."""
    return (capped_overlap(sh, NGRAM_DF_CAP)
            .filter(_overlap_jaccard() >= F.lit(float(threshold)))
            .agg(F.count("*").alias("n_exact")))


def sql_jaccard_recall(pair_ctes: str, threshold: float, m: str) -> str:
    """Oracle of a jaccard recall audit: ``n_exact`` from the capped
    overlap at ``threshold`` vs the sketch's verified ``pairs`` (defined
    by ``pair_ctes``, which also supply ``shh`` and ``sizes``) counted as
    ``m``, with recall in exact integer ppm."""
    return f"""
WITH {pair_ctes},
{sql_capped_overlap_ctes(NGRAM_DF_CAP)},
exact AS (SELECT COUNT(*) AS n_exact FROM overlap
          WHERE {_SQL_OVERLAP_JACCARD} >= {threshold}),
route AS (SELECT COUNT(*) AS {m} FROM pairs)
{sql_recall_ppm("n_exact", m, "exact CROSS JOIN route")}
"""


def q_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest-metrics audit for the MinHash family, completing the
    measured-recall discipline across all three similarity sketches
    (SRP cosine: q_lsh_recall_audit; PQ: q_pq_recall_audit): exact
    all-pairs jaccard >= JACCARD_THRESHOLD (the shingle-keyed self-join
    with the df cap, q_ngram_jaccard_pairs' machinery at the minhash
    threshold) vs the 64-hash/16-band LSH pipeline's verified pairs, as
    counts + recall in exact integer ppm. Verified LSH pairs pass the
    same exact-jaccard filter, so they are a subset of truth and recall
    = |lsh| / |exact|. The standard b/r S-curve puts pair-catch
    probability at 1-(1-j^4)^16 (~99.8% at j=0.8), so recall_ppm should
    sit near 1e6 — run this at any sf to validate a band configuration
    before a corpus job; the exact side is the quadratic baseline, so
    sample first at 100 TB (recall estimates compose)."""
    docs = load(spark, sf_dir, "documents")
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    sharr.count()   # eager: exact + lsh branches race a lazy cache
    # the df-capped quadratic truth needs per-shingle rows: derive them
    # from the cached arrays with one row-local explode (no re-hash)
    sh = sharr.select("doc_id", F.explode("sh_arr").alias("sh60"))
    exact = exact_jaccard_count(sh, JACCARD_THRESHOLD)
    lsh = _minhash_pairs(spark, sf_dir, sharr=sharr).agg(
        F.count("*").alias("n_lsh"))
    return recall_ppm(exact, lsh, "n_exact", "n_lsh")


def _text_prefix_join(sharr: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filter exact set-similarity join over the per-doc hash-array
    frame; returns (id1, id2, score) with jaccard score >= ``threshold``.
    The prefix-length and length-filter arithmetic runs on the EXACT
    rational p/q form of the threshold — float ceil(0.8*sz) rounds the
    wrong way on exact multiples (binary 0.8*5 = 4.0000000000000002 ->
    ceil 5), which would shorten prefixes and silently lose pairs.
    Per-shingle rows derive from the array frame with a row-local explode
    that carries size(sh_arr) along (no per-doc COUNT aggregation or
    sizes join).

    The prefix table is cached and filled eagerly before the candidate
    self-join: both join sides consume it, and uncached each side re-runs
    the df-count aggregate + rarity-rank window over the full shingle
    explode (profiled at sf0.1: the two duplicated subtrees were the
    entry's top stages, 12.5 s + 7.7 s task time). The fill computes through
    ``sharr``, so it fills a lazily-cached ``sharr`` in the same job."""
    frac = Fraction(threshold).limit_denominator(1_000_000)
    if frac > Fraction(threshold):
        # Never let the rationalized threshold exceed the float verify
        # gate: t' > t shortens prefixes, which could drop a pair with
        # t <= jaccard < t' and break losslessness. Floor to the 1e-6
        # grid instead — a slightly SMALLER t' only lengthens prefixes
        # (more candidates, same verified output).
        frac = Fraction(math.floor(Fraction(threshold) * 10**6), 10**6)
    p, q = frac.numerator, frac.denominator
    sh = sharr.select("doc_id", F.size("sh_arr").alias("sz"),
                      F.explode("sh_arr").alias("sh60"))
    dfreq = sh.groupBy("sh60").agg(F.count("*").alias("df"))
    ranked = (sh.join(dfreq, "sh60")
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("df", "sh60"))))
    pre = pin(ranked
              .filter(F.col("rn")
                      <= F.expr(f"sz - (({p} * sz + {q - 1}) div {q}) + 1"))
              .select("doc_id", "sh60", "sz"))
    pre.count()   # eager: both candidate sides race a lazy cache
    cand = candidate_pairs(
        pre, "doc_id", ["sh60"], "id1", "id2", carry=("sz",),
        gate=F.least("sz1", "sz2") * q >= F.greatest("sz1", "sz2") * p)
    return verify_jaccard_arrays(sharr, cand, threshold,
                                 c1="id1", c2="id2", score_col="score")


def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the PPJoin/AllPairs
    family) — the third similarity-join strategy next to the sketch path
    (MinHash-LSH, probabilistic) and the plain shingle self-join (exact
    but df-capped): exact AND join-bounded, with zero recall loss by
    construction. Each doc's shingle set is ordered by the GLOBAL
    canonical rarity order (df asc, hash asc) and only its prefix of
    length sz - ceil(t*sz) + 1 joins: any pair with jaccard >= t must
    share a prefix token in BOTH prefixes (overlap o >= t*|A| exceeds the
    suffix length ceil(t*|A|)-1 — the prefix-filter theorem), so
    candidates are complete. Rarity ordering puts the LOWEST-df tokens in
    prefixes, so join fan-out per token is minimal by construction — the
    boilerplate phrase that forces the plain self-join's df cap sits at
    the END of every doc's ordering and never joins. The length filter
    (5*min_sz >= 4*max_sz for t=0.8, integer form) prunes cross-size
    candidates before the verify. Verification recomputes exact jaccard
    on candidates only. The oracle is the INDEPENDENT quadratic spec (an
    uncapped shingle self-join), so the hash match proves the
    prefix-filter algebra lossless, not merely self-consistent."""
    docs = load(spark, sf_dir, "documents")
    # no eager sharr fill: the prefix table's eager fill computes through
    # it and fills both caches in one job
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    verified = _text_prefix_join(sharr, JACCARD_THRESHOLD)
    return verified.select(F.col("id1").alias("d1"), F.col("id2").alias("d2"),
                           F.round("score", 6).alias("jaccard"))


ORACLE_PREFIX_FILTER_JOIN = f"""
WITH {_sql_shh_ctes()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
  FROM shh x JOIN shh y ON y.sh60 = x.sh60 AND x.doc_id < y.doc_id
  GROUP BY 1, 2)
SELECT d1, d2,
       ROUND(i::DOUBLE / (s1.sz + s2.sz - i)::DOUBLE, 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE i::DOUBLE / (s1.sz + s2.sz - i)::DOUBLE >= {JACCARD_THRESHOLD}
"""


ORACLE_MINHASH_RECALL = sql_jaccard_recall(_SQL_MINHASH_PAIR_CTES,
                                           JACCARD_THRESHOLD, "n_lsh")


# ---------------------------------------------------------------------------
# One-Permutation-Hashing MinHash (the hash-budget scale path)
# ---------------------------------------------------------------------------

# Same S-curve derivation as the k-draw entries: 64 slots at t=0.8 -> 16
# bands of 4 — the band geometry is shared, only the sketch cost differs.
OPH_NUM_BANDS = minhash_band_config(JACCARD_THRESHOLD, OPH_BINS)[1]


def q_dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup pairs via One-Permutation-Hashing MinHash: ONE universal
    draw per shingle (vs 64 in dedup_minhash_lsh), rotation-densified
    into the same 64-slot/16-band geometry, then the identical candidate
    equi-join + exact-jaccard verify. Per-shingle sketch work drops from
    64 draw+aggregate updates to 1; measured at the 100x replica under
    full band materialization the per-doc assembly still outweighs the
    saved draws on that short-doc corpus (4.35 s vs 2.81 s) and the
    balance tips to OPH as shingles/doc rises — the
    long-document regime a web corpus lives in.
    Candidates differ from the k-draw family (a different, equally-valid
    estimator of the same resemblance), so the oracle replays THIS
    pipeline; q_oph_recall_audit measures it against the exact-pair
    truth."""
    pairs = _minhash_pairs(spark, sf_dir, sketch="oph")
    return pairs.select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))


_SQL_OPH_PAIR_CTES = sql_oph_pair_ctes(OPH_BINS, OPH_NUM_BANDS,
                                       JACCARD_THRESHOLD)

ORACLE_MINHASH_OPH = f"""
WITH {_SQL_OPH_PAIR_CTES}
SELECT d1, d2, ROUND(jaccard, 6) AS jaccard FROM pairs
"""


def q_oph_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest-metrics audit for the OPH sketch: exact all-pairs jaccard
    >= JACCARD_THRESHOLD (the same df-capped quadratic truth as
    q_minhash_recall_audit) vs the OPH pipeline's verified pairs, as
    counts + recall in exact integer ppm. Densified OPH is an unbiased
    resemblance estimator but its slots are sampled without replacement
    from ONE permutation (mildly correlated bands vs 64 independent
    draws), so its measured recall_ppm is the number that decides
    whether the 64x hash saving is free at a given threshold — run this
    before switching a corpus job's sketch kernel."""
    docs = load(spark, sf_dir, "documents")
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    sharr.count()   # eager: exact + oph branches race a lazy cache
    sh = sharr.select("doc_id", F.explode("sh_arr").alias("sh60"))
    exact = exact_jaccard_count(sh, JACCARD_THRESHOLD)
    oph = _minhash_pairs(spark, sf_dir, sharr=sharr, sketch="oph").agg(
        F.count("*").alias("n_oph"))
    return recall_ppm(exact, oph, "n_exact", "n_oph")


def q_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket size histogram for BOTH jaccard sketch families — the
    pre-flight diagnostic a corpus dedup runs to choose its kernel and
    spot candidate skew before paying for it. Candidate-join cost is
    locally quadratic in bucket size (sum n*(n-1)/2 = the exact number
    of candidate pair-slots the equi-join will emit), so the histogram
    IS the cost model: the replica analysis that surfaced OPH's
    short-doc borrow-correlation (max bucket 858 vs 393, +14% pair
    slots, a 2x entry-level gap) is exactly this query. Buckets are
    log2-sized via length(bin(n))-1 — integer-exact on both engines, no
    float log. Two sketch passes + two (band, band_key) aggregates; the
    shingle frame is computed once and shared."""
    docs = load(spark, sf_dir, "documents")
    sharr = pin(shingle_hash_arrays(docs, "doc_id", "text", n=3))
    sharr.count()   # eager: both family branches race a lazy cache
    sh = sharr.select("doc_id", F.explode("sh_arr").alias("sh60"))

    def fam(tag: str, bands: DataFrame) -> DataFrame:
        sizes = bands.groupBy("band", "band_key").agg(
            F.count("*").alias("n"))
        return (sizes
                .groupBy((F.length(F.bin(F.col("n"))) - 1).alias("log2_size"))
                .agg(F.count("*").alias("n_buckets"),
                     F.sum(F.expr("n*(n-1) div 2")).alias("pair_slots"),
                     F.max("n").alias("max_bucket"))
                .select(F.lit(tag).alias("family"), "log2_size",
                        "n_buckets", "pair_slots", "max_bucket"))

    return fam("kdraw", minhash_bands_arrays(
        sharr, "doc_id", "sh_arr", NUM_HASHES, NUM_BANDS)
    ).unionByName(fam("oph", oph_bands_fast(
        sh, "doc_id", "sh60", OPH_BINS, OPH_NUM_BANDS, hashed=True)))


def _oracle_bucket_histogram() -> str:
    def side(tag: str, band_ctes: str) -> str:
        return f"""SELECT * FROM (
  WITH {band_ctes},
  sizes AS (SELECT band, band_key, COUNT(*) AS n FROM bands GROUP BY 1, 2)
  SELECT '{tag}' AS family, length(bin(n)) - 1 AS log2_size,
         COUNT(*) AS n_buckets,
         CAST(SUM(n*(n-1)//2) AS BIGINT) AS pair_slots,
         CAST(MAX(n) AS BIGINT) AS max_bucket
  FROM sizes GROUP BY 2)"""
    return (side("kdraw", sql_minhash_band_ctes(NUM_HASHES, NUM_BANDS))
            + "\nUNION ALL\n"
            + side("oph", sql_oph_band_ctes(OPH_BINS, OPH_NUM_BANDS)))


ORACLE_OPH_RECALL = sql_jaccard_recall(_SQL_OPH_PAIR_CTES,
                                       JACCARD_THRESHOLD, "n_oph")


# ---------------------------------------------------------------------------
# SimHash near-dedup
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_MAX_HAMMING = 3


def _text_simhash_join(std: DataFrame, max_hamming: int) -> DataFrame:
    """SimHash pigeonhole chunk join over (doc_id, text), generic over the
    distance bound; returns (id1, id2, score = hamming distance) with
    score <= ``max_hamming``. The 60-bit signature is split into
    ``max_hamming + 1`` chunks — hamming <= t guarantees at least one
    chunk equal — candidates equi-join per chunk and verify with
    bit_count(xor). The last chunk absorbs the width remainder; any
    partition into t+1 non-empty pieces keeps the pigeonhole guarantee.

    The signatures are cached and filled eagerly: both chunk-join sides
    read them, and HERE the eager fill is load-bearing by measurement —
    the lazy-fill variant (the single-fill doctrine that won on the
    jaccard family) measured 1.44 -> 2.25+ s at sf0.1 and degrading.
    The difference from the jaccard family: no second derived cache
    whose fill would compute this one as a by-product."""
    toked = explode_tokens(std, "doc_id", "text")
    sims = pin(simhash(toked, "doc_id", "token", bits=SIMHASH_BITS))
    sims.count()   # eager: both chunk-join sides race a lazy cache
    chunks = int(max_hamming) + 1
    base = SIMHASH_BITS // chunks
    specs = []
    for j in range(chunks):
        start = j * base
        width = SIMHASH_BITS - start if j == chunks - 1 else base
        specs.append((j, start, (1 << width) - 1))
    chunked = sims.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("chunk"),
                     F.shiftright(F.col("simhash"), s)
                      .bitwiseAND(F.lit(m)).alias("ckey"))
            for j, s, m in specs])).alias("c")
    ).select("doc_id", "simhash", "c.chunk", "c.ckey")
    # the hamming gate runs BEFORE the distinct: the distance is a pure
    # function of the pair, so only passing candidates shuffle through it
    ham = F.bit_count(F.col("simhash1").bitwiseXOR(F.col("simhash2")))
    return candidate_pairs(chunked, "doc_id", ["chunk", "ckey"], "id1", "id2",
                           carry=("simhash",),
                           gate=ham <= F.lit(int(max_hamming)),
                           extra=(ham.alias("score"),))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) near-dedup: candidate pairs via pigeonhole chunk join
    (hamming <= 3 guarantees one of 4 15-bit chunks equal), verified with
    bit_count(xor). The chunk join is the scale path — no all-pairs scan.
    Like every pair-ENUMERATION contract, output is quadratic per
    duplicate cluster (m copies -> m(m-1)/2 pairs; 16x last-10x wall at
    the 100x replica's ~100-copy clusters) — for the
    dedup deliverable at corpus scale, link to a cluster representative
    instead (the q_dedup_star_survivors pattern applies unchanged to
    simhash chunks)."""
    docs = load(spark, sf_dir, "documents")
    pairs = _text_simhash_join(docs, SIMHASH_MAX_HAMMING)
    return pairs.select(F.col("id1").alias("d1"), F.col("id2").alias("d2"),
                        F.col("score").alias("hamming"))


ORACLE_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS.format(col='text')}) AS token FROM documents),
th AS (SELECT doc_id, {h60_sql('token')} AS h FROM tok),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
  GROUP BY doc_id, bit),
sims AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# Text analysis: language id, quality, token counts, fingerprints
# ---------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic per doc vs the labeled lang column."""
    docs = load(spark, sf_dir, "documents")
    pred = docs.select("doc_id", F.col("lang").alias("lang_actual"),
                       lang_id(F.col("text")).alias("lang_pred"))
    return pred.withColumn(
        "is_match",
        F.when(F.col("lang_pred") == F.col("lang_actual"), F.lit(1))
         .otherwise(F.lit(0)))


def _sql_lang_scores() -> str:
    toks = SQL_TOKENS.format(col="text")
    score_exprs = []
    for code in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[code])
        score_exprs.append(
            f"len(list_filter({toks}, t -> list_contains([{markers}], t))) AS s_{code}")
    return ", ".join(score_exprs)


_LANG_PRED_CASE = """
CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
     WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
     WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
     WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
     WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
     ELSE 'zh' END
"""

ORACLE_LANG_ID = f"""
WITH scored AS (SELECT doc_id, lang, {_sql_lang_scores()} FROM documents)
SELECT doc_id, lang AS lang_actual,
       {_LANG_PRED_CASE} AS lang_pred,
       CASE WHEN {_LANG_PRED_CASE} = lang THEN 1 ELSE 0 END AS is_match
FROM scored
"""


def _quality_scaled_cols(docs: DataFrame) -> DataFrame:
    """Integer quality counts + millionth-scaled ratios per document.

    Why integers: the obvious float form (0.25*a + 0.25*b + ...) differs by
    1 ulp between Spark and DuckDB (FMA/reassociation freedom), which flips
    round(6) whenever a score lands on an exact half — found by the sf0.1
    parity sweep (2026-08-13). Every ratio here is therefore computed as
    ``numerator * 10^6 DIV denominator`` in int64 (exact, order-free); the
    only float op left is a single division by 1e6 of identical integers,
    which is bit-identical on both engines. Same one-scan plan shape.

    The token array is materialized as a named column first: the five
    token-derived counts would otherwise each re-evaluate the tokenizer
    expression per row (no CSE across projection expressions that sit
    inside higher-order-function arguments)."""
    toks = F.col("__toks")
    stop_arr = F.lit(list(STOPWORDS))
    return docs.select(
        "doc_id", "source", "text", tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id", "source", "text",
        F.length("text").cast("bigint").alias("nc"),
        F.size(toks).cast("bigint").alias("nt"),
        (F.length("text")
         - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", "")))
        .cast("bigint").alias("np"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("bigint").alias("ns"),
        F.aggregate(toks, F.lit(0).cast("bigint"),
                    lambda acc, t: acc + F.length(t)).alias("tc"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("nd"),
    ).select(
        "doc_id", "source", "text", "nc", "nt",
        F.expr("CASE WHEN nc > 0 THEN (np * 1000000) div nc ELSE 0 END")
         .alias("punct_ppm"),
        F.expr("CASE WHEN nt > 0 THEN (ns * 1000000) div nt ELSE 0 END")
         .alias("stop_ppm"),
        F.expr("CASE WHEN nt > 0 THEN (tc * 1000000) div nt ELSE 0 END")
         .alias("mwl_ppm"),
        F.expr("CASE WHEN nt > 0 THEN ((nt - nd) * 1000000) div nt END")
         .alias("rep_ppm"),
    ).withColumn(
        "score_ppm",
        F.expr("2500 * least(nt, 100)"
               " + (250000 - punct_ppm div 4)"
               " + least(stop_ppm, 250000)"
               " + least(mwl_ppm div 32, 250000)"))


# DuckDB twin of _quality_scaled_cols (shared by quality + corpus filter).
_SQL_QUALITY_SCALED = f"""
counts AS (
  SELECT doc_id, source, text,
         length(text)::BIGINT AS nc,
         len({SQL_TOKENS.format(col='text')})::BIGINT AS nt,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::BIGINT AS np,
         len(list_filter({SQL_TOKENS.format(col='text')},
                         t -> list_contains([{{stoplist}}], t)))::BIGINT AS ns,
         coalesce(list_sum(list_transform({SQL_TOKENS.format(col='text')},
                                          t -> length(t))), 0)::BIGINT AS tc,
         len(list_distinct({SQL_TOKENS.format(col='text')}))::BIGINT AS nd
  FROM documents),
scaled AS (
  SELECT doc_id, source, text, nc, nt,
         CASE WHEN nc > 0 THEN (np * 1000000) // nc ELSE 0 END AS punct_ppm,
         CASE WHEN nt > 0 THEN (ns * 1000000) // nt ELSE 0 END AS stop_ppm,
         CASE WHEN nt > 0 THEN (tc * 1000000) // nt ELSE 0 END AS mwl_ppm,
         CASE WHEN nt > 0 THEN ((nt - nd) * 1000000) // nt END AS rep_ppm,
         2500 * least(nt, 100)
           + (250000 - CASE WHEN nc > 0 THEN (np * 1000000) // nc ELSE 0 END // 4)
           + least(CASE WHEN nt > 0 THEN (ns * 1000000) // nt ELSE 0 END, 250000)
           + least(CASE WHEN nt > 0 THEN (tc * 1000000) // nt ELSE 0 END // 32, 250000)
           AS score_ppm
  FROM counts)
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap quality signals per doc: length, punctuation ratio, stopword
    ratio, mean word length, and a blended 0-1 score. All ratios are
    millionth-truncated integers divided by 1e6 (see _quality_scaled_cols
    for why floats would not parity-match)."""
    docs = load(spark, sf_dir, "documents")
    scaled = _quality_scaled_cols(docs)
    return scaled.select(
        "doc_id", F.col("nc").alias("n_chars"), F.col("nt").alias("n_tokens"),
        (F.col("punct_ppm") / 1e6).alias("punct_ratio"),
        (F.col("stop_ppm") / 1e6).alias("stopword_ratio"),
        (F.col("mwl_ppm") / 1e6).alias("mean_word_len"),
        (F.col("score_ppm") / 1e6).alias("quality_score"))


_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

SQL_QUALITY_SCALED = _SQL_QUALITY_SCALED.format(stoplist=_STOP_LIST)

ORACLE_TEXT_QUALITY = f"""
WITH {SQL_QUALITY_SCALED}
SELECT doc_id, nc AS n_chars, nt AS n_tokens,
       punct_ppm / 1e6 AS punct_ratio,
       stop_ppm / 1e6 AS stopword_ratio,
       mwl_ppm / 1e6 AS mean_word_len,
       score_ppm / 1e6 AS quality_score
FROM scaled
"""


def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum stage assignment: each document lands in one of
    4 stages by quality-score quartile (stage 1 = highest-quality, fed to
    training first; stage 4 = the tail a run upsamples last or drops),
    reported as the stage x source mix a staged pretraining schedule is
    configured from — n_docs, token mass, and the score bounds actually
    observed per cell.

    Scale shape (the spend_quartiles_cutoffs contract): NO global ntile —
    cutoffs come from one percentile_approx aggregate over the integer
    score_ppm (map-side sketch merge; accuracy adapts to the doc count so
    the sketch stays rank-exact, base.rank_exact_accuracy), broadcast back as a
    1-row frame, and stage assignment is a row-local comparison. Value-based
    bucketing: ties share a stage — the contract that survives 100 TB, where
    exactly-equal populations would need a total order."""
    docs = load(spark, sf_dir, "documents")
    scaled = _quality_scaled_cols(docs).select("source", "nt", "score_ppm")
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    acc = rank_exact_accuracy(docs)
    cuts = scaled.agg(
        F.percentile_approx("score_ppm", probs, acc).alias("c")
    ).select(F.col("c")[0].alias("c25"), F.col("c")[1].alias("c50"),
             F.col("c")[2].alias("c75"))
    staged = scaled.crossJoin(F.broadcast(cuts)).select(
        "source", "nt", "score_ppm",
        (F.lit(1) + (F.col("score_ppm") <= F.col("c75")).cast("int")
                  + (F.col("score_ppm") <= F.col("c50")).cast("int")
                  + (F.col("score_ppm") <= F.col("c25")).cast("int"))
        .alias("stage"))          # 1 = highest quality, like the ntile convention
    return (staged.groupBy("stage", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("nt").alias("sum_tokens"),
                 F.min("score_ppm").alias("min_score_ppm"),
                 F.max("score_ppm").alias("max_score_ppm")))


ORACLE_CURRICULUM_STAGES = f"""
WITH {SQL_QUALITY_SCALED},
cuts AS (
  SELECT quantile_disc(score_ppm, 0.25) AS c25,
         quantile_disc(score_ppm, 0.5)  AS c50,
         quantile_disc(score_ppm, 0.75) AS c75
  FROM scaled),
staged AS (
  SELECT source, nt, score_ppm,
         1 + CASE WHEN score_ppm <= c75 THEN 1 ELSE 0 END
           + CASE WHEN score_ppm <= c50 THEN 1 ELSE 0 END
           + CASE WHEN score_ppm <= c25 THEN 1 ELSE 0 END AS stage
  FROM scaled CROSS JOIN cuts)
SELECT stage, source, COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS sum_tokens,
       MIN(score_ppm) AS min_score_ppm,
       MAX(score_ppm) AS max_score_ppm
FROM staged GROUP BY 1, 2
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens + regex (BPE-proxy)
    tokens — all integer aggregates, exact on both engines."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("ws"),
        regex_token_count(F.col("text")).cast("bigint").alias("re"))
    return (per_doc.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ws").alias("sum_ws_tokens"),
                 F.sum("re").alias("sum_regex_tokens"),
                 F.max("ws").alias("max_ws_tokens")))


ORACLE_TOKEN_COUNTS = f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len({SQL_TOKENS.format(col='text')})) AS BIGINT) AS sum_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '{WORD_RE.replace(chr(39), chr(39) * 2)}'))) AS BIGINT) AS sum_regex_tokens,
       MAX(len({SQL_TOKENS.format(col='text')})) AS max_ws_tokens
FROM documents GROUP BY source
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-sensitive rolling-hash fingerprint per document
    (functions/text.py:doc_fingerprint)."""
    docs = load(spark, sf_dir, "documents")
    return doc_fingerprint(docs, "doc_id", "text").select("doc_id", "fingerprint")


ORACLE_FINGERPRINT = f"""
WITH tok AS (
  SELECT doc_id,
         unnest({SQL_TOKENS.format(col='text')}) AS token,
         generate_subscripts({SQL_TOKENS.format(col='text')}, 1) - 1 AS pos
  FROM documents)
SELECT doc_id,
       bit_xor((({h60_sql('token')} % {MERSENNE_P})
                * ((pos * 2654435761) % {MERSENNE_P} + 1)) % {MERSENNE_P}) AS fingerprint
FROM tok GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Multimodal column plumbing (binary payloads + typed metadata)
# ---------------------------------------------------------------------------

def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary multimodal columns: payload = utf8 bytes of text (the
    deterministic stand-in for image/audio bytes — see sources/multimodal.py
    for the mapInPandas decode plumbing), typed metadata derived per doc."""
    docs = load(spark, sf_dir, "documents")
    modal = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                         (F.col("doc_id") % 3 + 1).cast("int"))
    payload = F.encode(F.col("text"), "UTF-8")
    return (docs.select(modal.alias("modality"),
                        F.octet_length(payload).cast("bigint").alias("payload_bytes"))
            .groupBy("modality")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("payload_bytes").alias("total_bytes"),
                 (F.sum("payload_bytes").cast("double") / F.count("*")).alias("avg_bytes"),
                 F.max("payload_bytes").alias("max_bytes")))


ORACLE_MULTIMODAL = """
WITH m AS (
  SELECT (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INTEGER] AS modality,
         octet_length(encode(text))::BIGINT AS payload_bytes
  FROM documents)
SELECT modality, COUNT(*) AS n_docs,
       CAST(SUM(payload_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(payload_bytes) AS DOUBLE) / COUNT(*) AS avg_bytes,
       MAX(payload_bytes) AS max_bytes
FROM m GROUP BY modality
"""


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-repetition ratio (1 - distinct/total tokens) — the
    boilerplate/low-information filter of a training-data quality pass.
    Entirely row-local (array ops inside the scan projection): zero shuffle,
    trivially linear at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    scaled = _quality_scaled_cols(docs)
    return scaled.select("doc_id",
                         F.col("nt").cast("int").alias("n_tokens"),
                         (F.col("rep_ppm") / 1e6).alias("repetition"))


def _oracle_repetition() -> str:
    return f"""
WITH {SQL_QUALITY_SCALED}
SELECT doc_id, nt::INTEGER AS n_tokens, rep_ppm / 1e6 AS repetition
FROM scaled
"""


def q_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy dedup over part names, blocked on the head noun
    (last token): candidate pairs come from an equi-join on the blocking
    key, and levenshtein() (JVM builtin) verifies only within blocks —
    never all-pairs. The standard record-linkage shape: at 100 TB widen
    the blocking key (noun + length band) to keep blocks bounded; the
    join stays a plain shuffle-hash equi-join either way."""
    parts = load(spark, sf_dir, "part")
    keyed = parts.select(
        "p_partkey", "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("blk"))
    a = keyed.select(F.col("p_partkey").alias("p1"),
                     F.col("p_name").alias("name1"), "blk")
    b = keyed.select(F.col("p_partkey").alias("p2"),
                     F.col("p_name").alias("name2"), "blk")
    dist = F.levenshtein("name1", "name2")
    return (a.join(b, "blk")
            .filter(F.col("p1") < F.col("p2"))
            .select("p1", "p2", dist.alias("edit_dist"))
            .filter(F.col("edit_dist") <= 2))


ORACLE_FUZZY_EDITDIST = """
WITH k AS (
  SELECT p_partkey, p_name,
         (string_split(p_name, ' '))[-1] AS blk
  FROM part)
SELECT a.p_partkey AS p1, b.p_partkey AS p2,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM k a JOIN k b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram — the corpus-profile report
    every training-data pass starts with. The bucket is bit_length-1
    (= floor(log2(n)) computed in integer arithmetic, so both engines
    agree exactly — no float log). Row-local projection + tiny groupBy."""
    docs = load(spark, sf_dir, "documents")
    bucket = (F.length(F.bin("n_chars")) - 1).cast("int")
    return (docs.select(bucket.alias("log2_bucket"), "n_chars")
            .groupBy("log2_bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"))
            .select("log2_bucket",
                    F.expr("shiftleft(1L, log2_bucket)").alias("bucket_lo"),
                    "n_docs", "min_chars", "max_chars"))


ORACLE_DOC_LENGTH_HISTOGRAM = """
WITH b AS (
  SELECT CAST(length(bin(n_chars)) - 1 AS INTEGER) AS log2_bucket, n_chars
  FROM documents)
SELECT log2_bucket, (1::BIGINT << log2_bucket) AS bucket_lo,
       COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM b GROUP BY log2_bucket
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass — regex-redact emails and phone-shaped tokens, the
    standard pre-training privacy filter. The synthetic corpus contains no
    PII, so the query first injects deterministic doc_id-derived emails
    (all docs) and fax numbers (3 of every 7 docs) and then proves the
    redaction by counting matches and measuring the char delta per source.
    Everything is row-local builtin regex (whole-stage codegen, no UDF, no
    shuffle until the final tiny groupBy) — at 100 TB this runs at scan
    speed. Patterns avoid backreferences so Java regex and RE2 agree."""
    docs = load(spark, sf_dir, "documents")
    num4 = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"), num4,
        F.when(F.col("doc_id") % 7 < 3,
               F.concat(F.lit(" fax 555-"), num4)).otherwise(F.lit("")))
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\b555-\d{4}\b"
    redacted = F.regexp_replace(
        F.regexp_replace(injected, email_re, "<EMAIL>"),
        phone_re, "<PHONE>")
    enriched = docs.select(
        "source",
        F.regexp_count(injected, F.lit(email_re)).alias("n_email"),
        F.regexp_count(injected, F.lit(phone_re)).alias("n_phone"),
        (F.length(injected) - F.length(redacted)).alias("delta"))
    return (enriched.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_email").alias("emails_redacted"),
                 F.sum("n_phone").alias("phones_redacted"),
                 F.sum("delta").alias("chars_removed")))


ORACLE_PII_REDACT = r"""
WITH inj AS (
  SELECT source,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || CASE WHEN doc_id % 7 < 3
                      THEN ' fax 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END AS t
  FROM documents),
red AS (
  SELECT source, t,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         len(regexp_extract_all(t, '\b555-\d{4}\b')) AS n_phone,
         regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                        '\b555-\d{4}\b', '<PHONE>', 'g') AS r
  FROM inj)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
       CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
       CAST(SUM(length(t) - length(r)) AS BIGINT) AS chars_removed
FROM red GROUP BY source
"""


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form dedup histogram: texts are normalized (lowercase,
    non-alphanumerics to spaces, whitespace collapsed) before grouping, so
    near-identical docs that exact dedup misses (case, punctuation,
    spacing) collapse into one group. Output is the dup-group-size
    histogram — the profile number that decides whether a fuzzy-dedup pass
    is worth running. Normalization is row-local regex; the groupBy
    shuffles only (hash, 1) pairs at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
        " +", " "))
    groups = (docs.select(norm.alias("norm"))
              .groupBy("norm").agg(F.count("*").alias("group_size")))
    return (groups.groupBy("group_size")
            .agg(F.count("*").alias("n_groups"))
            .orderBy("group_size"))


ORACLE_NORMALIZED_DEDUP = """
WITH g AS (
  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm,
         COUNT(*) AS group_size
  FROM documents GROUP BY 1)
SELECT group_size, COUNT(*) AS n_groups
FROM g GROUP BY group_size ORDER BY group_size
"""


def q_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain analytics: synthesize a deterministic source URL per doc
    (the corpus has none), extract the host with Spark's builtin parse_url,
    and rank domains by document count — the by-domain profile/filter step
    of web-corpus pipelines. The oracle extracts the host with a plain
    anchored regex, so the two engines cross-check each other's URL
    parsing. Row-local extract + one small groupBy."""
    docs = load(spark, sf_dir, "documents")
    tld = F.element_at(F.array(F.lit("com"), F.lit("org"), F.lit("net")),
                       (F.col("doc_id") % 3 + 1).cast("int"))
    url = F.concat(F.lit("https://"), F.col("source"),
                   (F.col("doc_id") % 50).cast("string"),
                   F.lit(".example."), tld,
                   F.lit("/docs/"), F.col("doc_id").cast("string"))
    host = F.parse_url(url, F.lit("HOST"))
    return (docs.select(host.alias("domain"))
            .groupBy("domain").agg(F.count("*").alias("n_docs"))
            .orderBy(F.col("n_docs").desc(), "domain")
            .limit(25))


ORACLE_DOMAIN_TOPK = """
WITH u AS (
  SELECT 'https://' || source || CAST(doc_id % 50 AS VARCHAR)
         || '.example.' || ['com', 'org', 'net'][(doc_id % 3) + 1]
         || '/docs/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents)
SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
       COUNT(*) AS n_docs
FROM u GROUP BY domain
ORDER BY n_docs DESC, domain
LIMIT 25
"""


CONTAM_N = 8                     # n-gram width for decontamination
EVAL_MOD = 97                    # doc_id % EVAL_MOD == 0 -> held-out eval doc


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: for each held-out eval document
    (doc_id % 97 == 0), how many of its distinct 8-gram shingles appear
    anywhere in the training split — the n-gram-overlap contamination
    audit run before every evaluation. Shingles join on the 60-bit content
    hash (integer equi-join, same primitive as the dedup family); eval
    docs with zero hits survive via the left join. At 100 TB the eval side
    is tiny, so the hash join broadcasts it — one linear pass over train
    shingles."""
    docs = load(spark, sf_dir, "documents")
    # cache: ev feeds base + hits and tr feeds hits — uncached, the
    # shingle explode + md5 pass recomputes per consumer (same fix as
    # bloom_prefilter_audit; measured ~2x at sf0.1).
    # explode_shingle_hashes, NOT an inline shingles(tokens(...)) — the
    # inline form re-tokenizes the document once per element_at reference
    # inside the shingle lambda (no CSE inside higher-order functions;
    # measured 155 s for the bare 8-gram explode on a 50 k-doc replica vs
    # ~3 s through the materialized-token helper)
    sh = pin(explode_shingle_hashes(docs, "doc_id", "text", n=CONTAM_N))
    ev = (sh.filter(F.col("doc_id") % EVAL_MOD == 0)
          .select(F.col("doc_id").alias("eval_doc_id"), "sh60"))
    tr = (sh.filter(F.col("doc_id") % EVAL_MOD != 0)
          .select(F.col("doc_id").alias("train_doc_id"), "sh60"))
    base = ev.groupBy("eval_doc_id").agg(
        F.countDistinct("sh60").alias("n_shingles"))
    hits = (ev.join(tr, "sh60")
            .groupBy("eval_doc_id")
            .agg(F.countDistinct("sh60").alias("n_contaminated"),
                 F.countDistinct("train_doc_id").alias("n_train_docs")))
    out = base.join(hits, "eval_doc_id", "left").fillna(
        0, ["n_contaminated", "n_train_docs"])
    return out.select(
        "eval_doc_id", "n_shingles", "n_contaminated", "n_train_docs",
        (F.col("n_contaminated").cast("double") / F.col("n_shingles"))
        .alias("contamination_ratio"))


def _contam_shingles_sql(n: int) -> str:
    toks = SQL_TOKENS.format(col="text")
    concat = " || ' ' || ".join(f"tk[i+{k}]" for k in range(n))
    return f"""
toks AS (SELECT doc_id, {toks} AS tk FROM documents),
shn AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(tk) - {n - 1}, 0)),
                               i -> {concat})) AS shingle
  FROM toks),
shh AS (SELECT doc_id, {h60_sql('shingle')} AS sh60 FROM shn)
"""


ORACLE_CONTAMINATION = f"""
WITH {_contam_shingles_sql(CONTAM_N)},
ev AS (SELECT doc_id AS eval_doc_id, sh60 FROM shh WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT doc_id AS train_doc_id, sh60 FROM shh WHERE doc_id % {EVAL_MOD} != 0),
base AS (SELECT eval_doc_id, COUNT(DISTINCT sh60) AS n_shingles FROM ev GROUP BY 1),
hits AS (
  SELECT eval_doc_id, COUNT(DISTINCT ev.sh60) AS n_contaminated,
         COUNT(DISTINCT train_doc_id) AS n_train_docs
  FROM ev JOIN tr ON ev.sh60 = tr.sh60 GROUP BY 1)
SELECT base.eval_doc_id, n_shingles,
       COALESCE(n_contaminated, 0) AS n_contaminated,
       COALESCE(n_train_docs, 0) AS n_train_docs,
       CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_shingles AS contamination_ratio
FROM base LEFT JOIN hits ON base.eval_doc_id = hits.eval_doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic sketches: count-min heavy hitters, Bloom prefilter
# ---------------------------------------------------------------------------

CMS_D, CMS_W, CMS_TOPK = 4, 1024, 20


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter audit: build a d=4 x w=1024 CMS over
    the token stream (bucket = h60(d ':' term) mod w — deterministic, so
    the oracle rebuilds the identical sketch) and report, for the exact
    top-20 terms, the exact count next to the CMS estimate (min over the
    d counters; always >= exact). This is the sketch that replaces exact
    per-term counting when the vocab itself no longer fits: the counter
    table is fixed at d*w rows regardless of data size, and the d-explode
    collapses map-side (4096 groups), so the shuffle is O(d*w) at 100 TB.
    The counter table then broadcasts back for the estimate join.

    The sketch is built from the TERM-COUNT table, not the raw token
    stream: md5 dominates the cost, and hashing each of |vocab| distinct
    terms d times then weighting by its count yields the IDENTICAL
    counter table (sum-of-counts == count-of-instances) at
    |tokens|/|vocab| fewer hashes — measured 14.5 s -> ~1 s at the 10x
    replica. The same per-term count table feeds the exact top-k, so the
    token stream is aggregated exactly once."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    term_counts = pin(tok.groupBy("term").agg(F.count("*").alias("tc")))
    ks = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("d")
    bucket = F.pmod(
        h60(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("term"))),
        F.lit(CMS_W))
    counters = (term_counts.select("term", "tc", ks)
                .select("d", bucket.alias("bucket"), "tc")
                .groupBy("d", "bucket").agg(F.sum("tc").alias("c")))
    exact = (term_counts
             .select("term", F.col("tc").alias("exact_n"))
             .orderBy(F.col("exact_n").desc(), "term").limit(CMS_TOPK))
    cand = (exact.select("term", "exact_n", ks)
            .withColumn("bucket", bucket))
    return (cand.join(F.broadcast(counters), ["d", "bucket"])
            .groupBy("term", "exact_n")
            .agg(F.min("c").alias("cms_est")))


def _oracle_heavy_hitters_cms() -> str:
    h = h60_sql("(d::VARCHAR || ':' || term)")
    toks = SQL_TOKENS.format(col="text")
    return f"""
WITH tok AS (SELECT unnest({toks}) AS term FROM documents),
ks AS (SELECT unnest(generate_series(0, {CMS_D - 1})) AS d),
counters AS (
  SELECT d, {h} % {CMS_W} AS bucket, COUNT(*) AS c
  FROM tok CROSS JOIN ks GROUP BY 1, 2),
exact AS (
  SELECT term, COUNT(*) AS exact_n FROM tok GROUP BY 1
  ORDER BY exact_n DESC, term LIMIT {CMS_TOPK}),
cand AS (
  SELECT term, exact_n, d, {h} % {CMS_W} AS bucket
  FROM exact CROSS JOIN ks)
SELECT term, exact_n, MIN(c) AS cms_est
FROM cand JOIN counters USING (d, bucket)
GROUP BY term, exact_n
"""


BLOOM_K, BLOOM_M = 3, 1 << 16


def _bloom_params() -> list[tuple[int, int]]:
    """k affine hash draws (a, b) over the Mersenne field — the MinHash
    seed-derivation doctrine (functions/hashing.py): constants come from
    h60 of a fixed seed string, so both engines embed identical literals
    and the position math is pure int64 (no per-row md5 — measured 10x on
    the train-side position pass vs string-hash positions at sf0.1)."""
    return [(1 + h60_py(f"bloom_a_{k}") % (MERSENNE_P - 1),
             h60_py(f"bloom_b_{k}") % MERSENNE_P)
            for k in range(BLOOM_K)]


def q_bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter for decontamination: the training split's
    8-gram hashes are folded into a Bloom filter (k=3 affine-hash
    positions mod 2^16, kept as a distinct position set so the oracle
    reproduces it exactly); each held-out eval shingle is a *candidate*
    iff all k positions are set. The audit reports, per eval doc,
    candidate count vs exact-join match count — i.e. the false-positive
    overhead you pay for replacing the full train-side join with a fixed
    64 Kib membership structure. No false negatives by construction
    (tested). At 100 TB the position set is the only state that travels:
    it broadcasts at 2^16 rows bounded, while the exact join's train side
    scales with the corpus. Positions are affine int64 maps of the
    shingle hash ((a*h + b) mod P mod M) — one multiply-add per
    (shingle, k), all inside codegen."""
    docs = load(spark, sf_dir, "documents")
    # cache: the shingle explode + md5 pass feeds four consumers (bits,
    # evk, and both sides of the exact join) — uncached, Spark recomputes
    # it per branch (measured 31s -> ~6s at sf0.1 with the cache+reuse).
    # explode_shingle_hashes materializes the token array before the
    # shingle lambda (see q_contamination_check for the measured cliff)
    sh = pin(explode_shingle_hashes(docs, "doc_id", "text", n=CONTAM_N))
    ev = pin(sh.filter(F.col("doc_id") % EVAL_MOD == 0)
             .select(F.col("doc_id").alias("eval_doc_id"), "sh60")
             .distinct())
    tr = pin(sh.filter(F.col("doc_id") % EVAL_MOD != 0).select("sh60")
             .distinct())

    hm = F.col("sh60") % F.lit(MERSENNE_P)
    positions = F.array(*[
        ((F.lit(a) * hm + F.lit(b)) % F.lit(MERSENNE_P)) % F.lit(BLOOM_M)
        for a, b in _bloom_params()])
    bits = tr.select(F.explode(positions).alias("pos")).distinct()
    evk = (ev.select("eval_doc_id", "sh60",
                     F.explode(positions).alias("pos")))
    hitk = (evk.join(F.broadcast(bits.withColumn("present", F.lit(1))),
                     "pos", "left")
            .groupBy("eval_doc_id", "sh60")
            .agg((F.min(F.coalesce(F.col("present"), F.lit(0))) == 1)
                 .cast("int").alias("bloom_hit")))
    per_doc = (hitk.groupBy("eval_doc_id")
               .agg(F.count("*").alias("n_shingles"),
                    F.sum("bloom_hit").alias("n_bloom_candidates")))
    exact = (ev.join(tr, "sh60", "left_semi")
             .groupBy("eval_doc_id").agg(F.count("*").alias("n_exact")))
    return (per_doc.join(exact, "eval_doc_id", "left")
            .fillna(0, ["n_exact"])
            .select("eval_doc_id", "n_shingles", "n_bloom_candidates",
                    F.col("n_exact").alias("n_exact_matches"),
                    (F.col("n_bloom_candidates") - F.col("n_exact"))
                    .alias("n_false_positives")))


def _oracle_bloom_prefilter() -> str:
    pos_exprs = ", ".join(
        f"(({a} * (sh60 % {MERSENNE_P}) + {b}) % {MERSENNE_P}) % {BLOOM_M}"
        for a, b in _bloom_params())
    return f"""
WITH {_contam_shingles_sql(CONTAM_N)},
ev AS (SELECT DISTINCT doc_id AS eval_doc_id, sh60 FROM shh
       WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT DISTINCT sh60 FROM shh WHERE doc_id % {EVAL_MOD} != 0),
bits AS (SELECT DISTINCT unnest([{pos_exprs}]) AS pos FROM tr),
evk AS (SELECT eval_doc_id, sh60, unnest([{pos_exprs}]) AS pos FROM ev),
hitk AS (
  SELECT eval_doc_id, sh60,
         CAST(MIN(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) = 1
              AS INT) AS bloom_hit
  FROM evk LEFT JOIN bits ON evk.pos = bits.pos
  GROUP BY 1, 2),
per_doc AS (
  SELECT eval_doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_candidates
  FROM hitk GROUP BY 1),
exact AS (
  SELECT eval_doc_id, COUNT(*) AS n_exact FROM ev
  WHERE sh60 IN (SELECT sh60 FROM tr) GROUP BY 1)
SELECT per_doc.eval_doc_id, n_shingles, n_bloom_candidates,
       COALESCE(n_exact, 0) AS n_exact_matches,
       n_bloom_candidates - COALESCE(n_exact, 0) AS n_false_positives
FROM per_doc LEFT JOIN exact ON per_doc.eval_doc_id = exact.eval_doc_id
"""


# ---------------------------------------------------------------------------
# Context-window chunking + inverted index
# ---------------------------------------------------------------------------

CHUNK_CHARS = 256


SEGMENT_TOKENS = 5
SEGMENT_DF_CAP = 1          # segments seen in > 1 doc are boilerplate


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level segment dedup (the paragraph/line dedup pass of
    CCNet/Dolma-style pipelines, on non-overlapping 5-token segments since
    this corpus has no newlines): a segment whose document frequency
    exceeds SEGMENT_DF_CAP is boilerplate and is dropped from every
    document; the audit reports per-document segment/removal/token counts.

    Two linear passes: segment explode (row-local, map-side) and a
    segment-keyed df count — the same shuffle profile as the shingle
    family, and the df side is bounded by |distinct segments|. Segments
    join by 60-bit hash (int64 keys). At 100 TB the df table is the only
    corpus-wide state and it partial-aggregates map-side."""
    docs = load(spark, sf_dir, "documents")
    # greatest(…, 1): Spark's sequence(0, -1) is DESCENDING [0, -1] (not
    # empty), so an empty token array would otherwise explode a phantom
    # negative index — same guard as functions/text.py:shingles
    n_seg = F.greatest(
        F.ceil(F.size(F.col("__toks")) / F.lit(SEGMENT_TOKENS)).cast("int"),
        F.lit(1))
    seg = F.concat_ws(
        " ", F.slice(F.col("__toks"),
                     F.col("seg_idx") * SEGMENT_TOKENS + 1, SEGMENT_TOKENS))
    segs = pin(
        docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
        .select("doc_id", "__toks",
                F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("seg_idx"))
        .select("doc_id", "seg_idx",
                h60(seg).alias("seg60"),
                F.least(F.size("__toks") - F.col("seg_idx") * SEGMENT_TOKENS,
                        F.lit(SEGMENT_TOKENS)).alias("seg_tokens")))
    df = (segs.groupBy("seg60")
          .agg(F.countDistinct("doc_id").alias("df"))
          .filter(F.col("df") > SEGMENT_DF_CAP))
    flagged = segs.join(df.select("seg60"), "seg60", "left_semi")
    removed = (flagged.groupBy("doc_id")
               .agg(F.count("*").alias("n_removed"),
                    F.sum("seg_tokens").alias("tokens_removed")))
    base = (segs.groupBy("doc_id")
            .agg(F.count("*").alias("n_segments"),
                 F.sum("seg_tokens").alias("n_tokens")))
    return (base.join(removed, "doc_id", "left")
            .fillna(0, ["n_removed", "tokens_removed"])
            .select("doc_id", "n_segments",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    "n_removed",
                    F.col("tokens_removed").cast("bigint")
                     .alias("tokens_removed")))


def _segment_dedup_oracle() -> str:
    toks = SQL_TOKENS.format(col="text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
ix AS (
  SELECT doc_id, tk,
         unnest(generate_series(
             0, GREATEST(CAST(CEIL(len(tk) / {SEGMENT_TOKENS}.0) AS INT), 1) - 1
         )) AS seg_idx
  FROM t),
segs AS (
  SELECT doc_id, seg_idx,
         {h60_sql(f"array_to_string(tk[seg_idx*{SEGMENT_TOKENS}+1:seg_idx*{SEGMENT_TOKENS}+{SEGMENT_TOKENS}], ' ')")} AS seg60,
         LEAST(len(tk) - seg_idx*{SEGMENT_TOKENS}, {SEGMENT_TOKENS}) AS seg_tokens
  FROM ix),
df AS (SELECT seg60 FROM segs GROUP BY seg60
       HAVING COUNT(DISTINCT doc_id) > {SEGMENT_DF_CAP}),
removed AS (
  SELECT doc_id, COUNT(*) AS n_removed,
         CAST(SUM(seg_tokens) AS BIGINT) AS tokens_removed
  FROM segs WHERE seg60 IN (SELECT seg60 FROM df) GROUP BY doc_id),
base AS (
  SELECT doc_id, COUNT(*) AS n_segments,
         CAST(SUM(seg_tokens) AS BIGINT) AS n_tokens
  FROM segs GROUP BY doc_id)
SELECT base.doc_id, n_segments, n_tokens,
       COALESCE(n_removed, 0) AS n_removed,
       COALESCE(tokens_removed, 0) AS tokens_removed
FROM base LEFT JOIN removed ON base.doc_id = removed.doc_id
"""


ORACLE_SEGMENT_DEDUP = _segment_dedup_oracle()


SPAN_TOKENS = 8     # window width; production substring dedup uses ~50
                    # BPE tokens — 8 fits this corpus's short synthetic
                    # docs while keeping the plan shape identical


def _dup_window_spans(t: DataFrame, k: int) -> DataFrame:
    """Shared span derivation for the substring-dedup family: stride-1
    k-token window hashes over the tokenized corpus ``t`` (doc_id, tk),
    corpus-repeat filter (window content occurring more than once
    anywhere, including its own doc), gaps-and-islands merge of the
    duplicated positions, returning per doc the maximal spans as ONE
    array row ``(doc_id, spans: array<struct<s, e>>)`` in 1-based token
    coordinates with e = last_window_start + k - 1; docs without
    duplicated windows have no row. One implementation feeds BOTH the
    audit (q_exact_substring_spans) and the rewrite
    (q_substring_dedup_rewrite) so the two entries'
    removed_tokens == dup_tokens contract cannot drift.

    Shape (the row-local array form applied to the window-hash
    frame): the per-doc hash ARRAY is
    what's cached (|docs| rows instead of |windows| exploded rows; the
    hash at 0-based index i is the window at position i+1, so positions
    are implicit), and the gaps-and-islands merge is row-local array
    arithmetic over the per-doc duplicated-position list (no per-doc
    sort window, no (doc_id, island) aggregation). The corpus-repeat
    decision keeps the groupBy + semi-join shape: a count window over
    one w60 exchange was built and MEASURED SLOWER (1.93 vs 1.63 s at
    sf0.1) — the dup table broadcasts here, so the semi probe pays no
    second shuffle, and the window's full |windows| sort is pure cost."""
    wh_arr = pin(t.filter(F.size("tk") >= k)
                 .select("doc_id",
                         F.transform(
                             F.sequence(F.lit(1), F.size("tk") - k + 1),
                             lambda pos: h60(F.concat_ws(
                                 " ", F.slice(F.col("tk"), pos, k))))
                          .alias("wh")))
    wh_arr.count()   # eager: both explode consumers race a lazy cache
    wins = wh_arr.select("doc_id", F.posexplode("wh").alias("pos0", "w60"))
    dup = (wins.groupBy("w60").agg(F.count("*").alias("cnt"))
           .filter(F.col("cnt") > 1).select("w60"))
    dp = (wins.join(dup, "w60", "left_semi")
          .groupBy("doc_id")
          .agg(F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("dp")))
    # islands row-locally: starts = positions opening a chain (first, or
    # gap > k from the previous); ends = positions closing one (last, or
    # gap > k to the next); zip pairs them — islands are disjoint with
    # >= 1 token between spans (s_next >= e_prev + 2 by the gap rule)
    starts = F.filter(
        "dp", lambda p, i: (i == F.lit(0))
        | (p - F.element_at("dp", i.cast("int")) > k))
    ends = F.filter(
        "dp", lambda p, i: (i == F.size("dp") - 1)
        | (F.element_at("dp", (i + 2).cast("int")) - p > k))
    return dp.select(
        "doc_id",
        F.zip_with(starts, ends,
                   lambda s, e: F.struct(s.alias("s"),
                                         (e + k - 1).alias("e")))
        .alias("spans"))


def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-level duplication audit — the span-removal
    contract of suffix-array substring dedup (the pass that strips
    repeated boilerplate RANGES from otherwise-unique documents, which
    doc-level dedup keeps and segment dedup only catches when segment
    boundaries align). Every overlapping SPAN_TOKENS-token window is
    hashed; a window whose exact content occurs more than once in the
    corpus (any doc, including its own) is a duplicated window; per doc,
    duplicated window positions merge into maximal spans
    (gaps-and-islands: positions p, q chain while q - p <= K) and the
    report gives span count, covered tokens and integer-ppm coverage.

    Scale shape: the window-hash derivation is row-local (a
    per-doc hash ARRAY — positions implicit in the index); the corpus-
    repeat decision is a count window over ONE w60 exchange; the island
    merge and the span report are row-local array arithmetic per doc.
    The hash-array frame is pinned (storage.pin) across its two
    consumers — at 100 TB persist it to a scratch table instead, same
    plan either way."""
    docs = load(spark, sf_dir, "documents")
    k = SPAN_TOKENS
    # cache the tokenization: base + the window fill both read it
    # (pre-filter to len >= k inside the helper: sequence(1, n) with
    # n < 1 would DESCEND — the Spark trap documented at q_segment_dedup)
    t = pin(docs.select("doc_id", tokens(F.col("text")).alias("tk")))
    base = t.select("doc_id", F.size("tk").cast("bigint").alias("n_tokens"))
    spans = _dup_window_spans(t, k)
    # the span report is row-local over the per-doc spans array (cov per
    # island = e - s + 1); no (doc_id, island) aggregation exists anymore
    per_doc = spans.select(
        "doc_id",
        F.size("spans").cast("bigint").alias("n_dup_spans"),
        F.aggregate("spans", F.lit(0).cast("bigint"),
                    lambda acc, sp: acc + (sp["e"] - sp["s"] + 1))
        .alias("dup_tokens"))
    return (base.join(per_doc, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_dup_spans", F.lit(0)).cast("bigint")
                     .alias("n_dup_spans"),
                    F.coalesce("dup_tokens", F.lit(0)).cast("bigint")
                     .alias("dup_tokens"))
            .withColumn("dup_ppm", F.expr(
                "dup_tokens * 1000000 div greatest(n_tokens, 1)")))


def _sql_dup_island_ctes(k: int) -> str:
    """DuckDB spec of the substring-dedup span derivation: tokenized
    corpus ``t`` (doc_id, tk), stride-1 k-token window hashes, the
    corpus-repeat filter, and ``isl`` (doc_id, pos, island) numbering
    each doc's duplicated window positions into gaps-and-islands chains
    (positions p, q chain while q - p <= k). Shared by the span audit
    and the rewrite oracles."""
    toks = SQL_TOKENS.format(col="text")
    wh = h60_sql(f"array_to_string(tk[pos:pos+{k - 1}], ' ')")
    return f"""t AS (SELECT doc_id, {toks} AS tk FROM documents),
w AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, GREATEST(len(tk) - {k} + 1, 0))) AS pos
  FROM t),
wh AS (SELECT doc_id, pos, {wh} AS w60 FROM w),
dup AS (SELECT w60 FROM wh GROUP BY w60 HAVING COUNT(*) > 1),
dp AS (SELECT doc_id, pos FROM wh WHERE w60 IN (SELECT w60 FROM dup)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {k}
              THEN 1 ELSE 0 END AS brk
  FROM dp),
isl AS (SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM brk)"""


def _substring_spans_oracle() -> str:
    k = SPAN_TOKENS
    return f"""
WITH {_sql_dup_island_ctes(k)},
per_isl AS (SELECT doc_id, island, MAX(pos) - MIN(pos) + {k} AS cov
            FROM isl GROUP BY 1, 2),
per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
                   CAST(SUM(cov) AS BIGINT) AS dup_tokens
            FROM per_isl GROUP BY 1),
base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t)
SELECT base.doc_id, n_tokens,
       COALESCE(n_dup_spans, 0) AS n_dup_spans,
       COALESCE(dup_tokens, 0) AS dup_tokens,
       COALESCE(dup_tokens, 0) * 1000000 // GREATEST(n_tokens, 1)
         AS dup_ppm
FROM base LEFT JOIN per_doc ON base.doc_id = per_doc.doc_id
"""


ORACLE_SUBSTRING_SPANS = _substring_spans_oracle()


def q_substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup REWRITE — the production pass downstream of the
    q_exact_substring_spans audit: emit every document with its
    duplicated spans REMOVED (token-level surgery), plus kept/removed
    counts and an md5 of the cleaned text so the result stays narrow and
    the reconstruction is hash-checked byte-for-byte across engines.
    Matches the released ExactSubstr implementation's policy (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    EVERY occurrence of a duplicated window is dropped, including the
    first — keeping one canonical occurrence needs occurrence-level
    arbitration the paper's tooling also skips. Cleaned text is the kept
    tokens joined by single spaces (the token-level contract; original
    whitespace is not preserved).

    Scale shape: the span machinery is
    q_exact_substring_spans' (row-local window-hash arrays, ONE w60
    exchange for the repeat decision, row-local island merge). The
    rewrite itself adds NO token-level dataflow at all: spans per doc
    are disjoint and sorted, so the kept tokens are the native slices
    between spans, flattened in position order — one doc-level join
    against the span table replaces the old |tokens|-row posexplode +
    (doc_id, pos-range) anti-join + per-doc collect_list reassembly."""
    docs = load(spark, sf_dir, "documents")
    k = SPAN_TOKENS
    # cache the tokenization: counts, the window fill and the posexplode
    # all read it (3 scans of documents otherwise)
    t = pin(docs.select("doc_id", tokens(F.col("text")).alias("tk")))
    spans = _dup_window_spans(t, k)
    # The surgery is ROW-LOCAL. Spans per doc are disjoint,
    # sorted, with >= 1 kept token between islands (the gap rule), so the
    # kept tokens are exactly the slices BETWEEN spans: kept ranges
    # [1, s1-1], [e1+1, s2-1], ..., [em+1, n] — materialized with one
    # native slice per range and flattened, in position order by
    # construction. This removes the old |tokens|-row posexplode, the
    # (doc_id equi + pos range) anti-join, and the per-doc
    # collect_list + array_sort reassembly aggregation (two exchanges of
    # token-level rows -> one doc-level broadcast/hash join).
    sp = F.coalesce(
        "spans", F.array().cast("array<struct<s: int, e: int>>"))
    n = F.size("tk")
    starts = F.concat(F.array(F.lit(1)),
                      F.transform(sp, lambda x: x["e"] + 1))
    ends = F.concat(F.transform(sp, lambda x: x["s"] - 1), F.array(n))
    kept = F.flatten(F.zip_with(
        starts, ends,
        lambda a, b: F.slice(F.col("tk"), a, F.greatest(b - a + 1,
                                                        F.lit(0)))))
    return (t.join(spans, "doc_id", "left")
            .select("doc_id", n.cast("bigint").alias("n_tokens"),
                    kept.alias("kept"))
            .select("doc_id", "n_tokens",
                    F.size("kept").cast("bigint").alias("kept_tokens"),
                    (F.col("n_tokens") - F.size("kept")).cast("bigint")
                     .alias("removed_tokens"),
                    F.md5(F.concat_ws(" ", "kept")).alias("cleaned_hash")))


def _substring_rewrite_oracle() -> str:
    k = SPAN_TOKENS
    return f"""
WITH {_sql_dup_island_ctes(k)},
spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {k - 1} AS e
          FROM isl GROUP BY 1, 2),
posns AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS pos
          FROM t),
kept AS (
  SELECT p.doc_id, p.pos, p.tk[p.pos] AS tok
  FROM posns p
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = p.doc_id AND p.pos BETWEEN s.s AND s.e)),
ka AS (SELECT doc_id, COUNT(*) AS kept_tokens,
              string_agg(tok, ' ' ORDER BY pos) AS cleaned
       FROM kept GROUP BY 1),
base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t)
SELECT base.doc_id, n_tokens,
       CAST(COALESCE(kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(n_tokens - COALESCE(kept_tokens, 0) AS BIGINT)
         AS removed_tokens,
       md5(COALESCE(cleaned, '')) AS cleaned_hash
FROM base LEFT JOIN ka ON base.doc_id = ka.doc_id
"""


ORACLE_SUBSTRING_REWRITE = _substring_rewrite_oracle()


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into fixed-width
    character chunks (the pre-tokenizer pass that feeds an LLM context
    window). Generalizes the reference's row-reshaping transforms
    (team_rankings_scraper.py:48-82 one-row-to-many-columns; here
    one-row-to-many-rows). Row-local sequence+explode — map-side only, no
    shuffle at any scale; chunk identity is carried as md5(chunk) so the
    result stays narrow regardless of chunk width."""
    docs = load(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.ceil(F.length("text") / F.lit(CHUNK_CHARS)), F.lit(1)).cast("int")
    exploded = docs.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"))
    chunk = F.expr(
        f"substring(text, chunk_idx * {CHUNK_CHARS} + 1, {CHUNK_CHARS})")
    return exploded.select(
        "doc_id", "chunk_idx",
        F.length(chunk).alias("chunk_chars"),
        F.md5(chunk).alias("chunk_hash"))


ORACLE_DOC_CHUNKING = f"""
WITH c AS (
  SELECT doc_id, text,
         unnest(generate_series(
             0, GREATEST(CAST(CEIL(length(text) / {CHUNK_CHARS}.0) AS INT), 1) - 1
         )) AS chunk_idx
  FROM documents)
SELECT doc_id, chunk_idx,
       length(substr(text, chunk_idx * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS chunk_chars,
       md5(substr(text, chunk_idx * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS chunk_hash
FROM c
"""


MIN_POSTINGS_DF = 5


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: token postings lists (term -> sorted doc ids)
    with document/collection frequency, restricted to terms appearing in
    >= MIN_POSTINGS_DF docs. Two aggregations, both keyed on the term:
    the (term, doc) combine is map-side-heavy (per-doc term counts), the
    term rollup shuffles |vocab| rows. collect_list carries no order
    guarantee under partial aggregation, so postings are array_sort'ed
    row-locally. Postings are emitted '|'-delimited (hashable scalar, not
    an array cell). At 100 TB, cap per-term posting width (df ceiling) the
    same way the shingle self-join caps document frequency."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return (tf.groupBy("term")
            .agg(F.count("*").alias("doc_freq"),
                 F.sum("tf").alias("coll_freq"),
                 F.array_join(F.array_sort(F.collect_list("doc_id")), "|")
                  .alias("postings"))
            .filter(F.col("doc_freq") >= MIN_POSTINGS_DF))


ORACLE_INVERTED_INDEX = f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKENS.format(col="text")}) AS term FROM documents),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2)
SELECT term, COUNT(*) AS doc_freq, CAST(SUM(tf) AS BIGINT) AS coll_freq,
       array_to_string(list_sort(list(doc_id)), '|') AS postings
FROM tf GROUP BY term HAVING COUNT(*) >= {MIN_POSTINGS_DF}
"""


TEXT_QUERIES = [
    QueryDef("dedup_exact_text", q_dedup_exact_text, ORACLE_DEDUP_EXACT, "LLM-dedup-exact"),
    QueryDef("dedup_minhash_lsh", q_dedup_minhash_lsh, ORACLE_MINHASH_LSH, "LLM-dedup-minhash", bench=True),
    QueryDef("dedup_components", q_dedup_components, ORACLE_COMPONENTS, "LLM-dedup-components"),
    QueryDef("dedup_survivor_table", q_dedup_survivor_table,
             ORACLE_SURVIVOR_TABLE, "LLM-dedup-survivors"),
    QueryDef("dedup_quality_survivors", q_dedup_quality_survivors,
             ORACLE_QUALITY_SURVIVORS, "LLM-dedup-quality-survivors"),
    QueryDef("dedup_star_survivors", q_dedup_star_survivors,
             ORACLE_STAR_SURVIVORS, "LLM-dedup-star-scale", bench=True),
    QueryDef("leakage_safe_split", q_leakage_safe_split,
             ORACLE_LEAKAGE_SAFE_SPLIT, "LLM-split-leakage-safe",
             bench=True),
    QueryDef("incremental_corpus_dedup", q_incremental_corpus_dedup,
             ORACLE_INCREMENTAL_DEDUP, "LLM-dedup-incremental", bench=True),
    QueryDef("cross_shard_dedup_audit", q_cross_shard_dedup_audit,
             _oracle_cross_shard_audit(), "LLM-dedup-shard-audit"),
    QueryDef("ngram_jaccard_pairs", q_ngram_jaccard_pairs, ORACLE_NGRAM_JACCARD, "LLM-dedup-jaccard"),
    QueryDef("containment_join", q_containment_join, ORACLE_CONTAINMENT_JOIN,
             "LLM-dedup-containment"),
    QueryDef("containment_sketch_join", q_containment_sketch_join,
             ORACLE_CONTAINMENT_JOIN, "LLM-dedup-containment-prefix"),
    QueryDef("containment_recall_audit", q_containment_recall_audit,
             ORACLE_CONTAINMENT_RECALL, "LLM-dedup-containment-recall"),
    QueryDef("minhash_recall_audit", q_minhash_recall_audit,
             ORACLE_MINHASH_RECALL, "LLM-dedup-minhash-recall"),
    QueryDef("dedup_minhash_oph", q_dedup_minhash_oph, ORACLE_MINHASH_OPH,
             "LLM-dedup-oph", bench=True),
    QueryDef("oph_recall_audit", q_oph_recall_audit, ORACLE_OPH_RECALL,
             "LLM-dedup-oph-recall"),
    QueryDef("lsh_bucket_histogram", q_lsh_bucket_histogram,
             _oracle_bucket_histogram(), "LLM-dedup-diagnostics"),
    QueryDef("prefix_filter_join", q_prefix_filter_join,
             ORACLE_PREFIX_FILTER_JOIN, "LLM-dedup-prefix-filter",
             bench=True),
    QueryDef("dedup_simhash", q_dedup_simhash, ORACLE_SIMHASH, "LLM-dedup-simhash", bench=True),
    QueryDef("lang_id", q_lang_id, ORACLE_LANG_ID, "LLM-text-langid"),
    QueryDef("text_quality", q_text_quality, ORACLE_TEXT_QUALITY, "LLM-text-quality"),
    QueryDef("curriculum_stages", q_curriculum_stages,
             ORACLE_CURRICULUM_STAGES, "LLM-curriculum"),
    QueryDef("token_counts", q_token_counts, ORACLE_TOKEN_COUNTS, "LLM-text-tokens"),
    QueryDef("doc_fingerprint", q_doc_fingerprint, ORACLE_FINGERPRINT, "LLM-text-fingerprint"),
    QueryDef("multimodal_stats", q_multimodal_stats, ORACLE_MULTIMODAL, "LLM-multimodal"),
    QueryDef("repetition_score", q_repetition_score, _oracle_repetition(), "LLM-text-repetition"),
    QueryDef("fuzzy_editdist", q_fuzzy_editdist, ORACLE_FUZZY_EDITDIST, "LLM-dedup-editdist"),
    QueryDef("doc_length_histogram", q_doc_length_histogram, ORACLE_DOC_LENGTH_HISTOGRAM, "LLM-text-lenhist"),
    QueryDef("pii_redact", q_pii_redact, ORACLE_PII_REDACT, "LLM-text-pii"),
    QueryDef("normalized_dedup", q_normalized_dedup, ORACLE_NORMALIZED_DEDUP, "LLM-dedup-normalized"),
    QueryDef("contamination_check", q_contamination_check, ORACLE_CONTAMINATION, "LLM-decontamination", bench=True),
    QueryDef("domain_topk", q_domain_topk, ORACLE_DOMAIN_TOPK, "LLM-text-domains"),
    QueryDef("doc_chunking", q_doc_chunking, ORACLE_DOC_CHUNKING, "LLM-chunking"),
    QueryDef("exact_substring_spans", q_exact_substring_spans,
             ORACLE_SUBSTRING_SPANS, "LLM-dedup-substring-spans"),
    QueryDef("substring_dedup_rewrite", q_substring_dedup_rewrite,
             ORACLE_SUBSTRING_REWRITE, "LLM-dedup-substring-rewrite"),
    QueryDef("segment_dedup", q_segment_dedup, ORACLE_SEGMENT_DEDUP,
             "LLM-dedup-segment", bench=True),
    QueryDef("inverted_index", q_inverted_index, ORACLE_INVERTED_INDEX, "LLM-inverted-index"),
    QueryDef("heavy_hitters_cms", q_heavy_hitters_cms, _oracle_heavy_hitters_cms(),
             "A-sketch-cms", bench=True),
    QueryDef("bloom_prefilter_audit", q_bloom_prefilter_audit, _oracle_bloom_prefilter(),
             "A-sketch-bloom,LLM-decontamination", bench=True),
]
