"""Core relational query catalog (SURVEY.md §2.1-§2.7, §2.9).

Each QueryDef pairs a Spark DataFrame plan with the DuckDB oracle SQL that
the driver runs side-by-side. Operator ids in ``ops`` map back to the
SURVEY.md §2 inventory. See plans/base.py for the determinism rules.
"""

from __future__ import annotations

from pyspark.sql import (Column, DataFrame, SparkSession, Window,
                         functions as F)

from ..operators.clean import clean_string, pct_to_fraction
from ..operators.dedup import dedup_full_row, dedup_keep_latest
from ..operators.joins import asof_join, matchup_join
from ..operators.records import split_record
from ..operators.timeseries import zero_filled_counts
from ..operators.windows import exp_weighted_mean, topk_per_group, trailing_mean
from ..functions.hashing import h60_sql
from ..localdf import local_df
from ..storage import pin
from .base import (QueryDef, cents, dec as _dec, event_micros, load,
                   rank_exact_accuracy)


# ---------------------------------------------------------------------------
# Aggregation over a filtered scan (reference read-side pattern README.md:121-167)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter T11 + groupBy agg A5/X-avg. Filter pushes to
    the parquet scan; sums are exact decimals cast to double."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(8,2)") - _dec("l_discount", "8,2"))
    charge = disc_price * (F.lit(1).cast("decimal(8,2)") + _dec("l_tax", "8,2"))
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
        (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
        F.count("*").alias("count_order")))


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2))) * (CAST(1 AS DECIMAL(8,2)) + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Multi-way joins (J2 equi-join shape; broadcast of small dims)
# ---------------------------------------------------------------------------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter broadcast into two fact joins,
    then agg + deterministic top-10."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp"))
    revenue = F.sum(_dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(8,2)") - _dec("l_discount", "8,2")))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(revenue.cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


ORACLE_SHIPPING = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table chain; region/nation/supplier broadcast, the
    orders-lineitem join is the only real shuffle (J1-shaped chain)."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(8,2)") - _dec("l_discount", "8,2")))
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
            .join(customer, orders.o_custkey == customer.c_custkey)
            .filter(customer.c_nationkey == supplier.s_nationkey)
            .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(revenue.cast("double").alias("revenue")))


ORACLE_REGION_VOLUME = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Top-k per group (X3 "best line"), dedup (A1/A2), distinct/set ops (A3/A4/A5)
# ---------------------------------------------------------------------------

def q_best_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: the 'best available line per (game, market, outcome)' pattern
    (get_odds.py:62-66 sort -> top-1 per key) over the events feed: highest
    value per (user, event_type), total order pinned by (ts, event_id)."""
    ev = load(spark, sf_dir, "events")
    top = topk_per_group(
        ev, ["user_id", "event_type"],
        [F.col("value").desc(), F.col("ts").desc(), F.col("event_id").desc()], k=1)
    return top.select(
        "user_id", "event_type",
        F.col("event_id").alias("best_event_id"),
        F.col("value").alias("best_value"),
        F.col("ts").alias("best_ts"))


ORACLE_BEST_SNAPSHOT = """
SELECT user_id, event_type, event_id AS best_event_id, value AS best_value, ts AS best_ts
FROM (SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY value DESC, ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def q_dedup_full_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: full-row DISTINCT as the double-run idempotency guard
    (odds_data_collector.py:40-44) — the feed unioned with itself collapses
    back to one copy."""
    ev = load(spark, sf_dir, "events")
    return dedup_full_row(ev.unionByName(ev))


ORACLE_DEDUP_FULL_ROW = """
SELECT DISTINCT * FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
"""


def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: keyed keep-latest upsert dedup
    (team_rankings_data_collector.py:41-45)."""
    ev = load(spark, sf_dir, "events")
    return (dedup_keep_latest(ev, ["user_id", "event_type"], "ts",
                              tiebreak_cols=["event_id"])
            .select("user_id", "event_type", "event_id", "ts", "value"))


ORACLE_DEDUP_KEEP_LATEST = """
SELECT user_id, event_type, event_id, ts, value
FROM (SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def q_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: distinct values of a column (get_odds.py:70 market coverage)."""
    return load(spark, sf_dir, "events").select("event_type").distinct()


ORACLE_DISTINCT_EVENT_TYPES = "SELECT DISTINCT event_type FROM events"

EXPECTED_EVENT_TYPES = ["click", "view", "purchase", "signup", "error",
                        "refund", "chargeback"]


def q_expected_minus_found(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: set-difference completeness check (get_odds.py:74-77
    expected_markets - found) as a left-anti join."""
    expected = spark.createDataFrame([(x,) for x in EXPECTED_EVENT_TYPES],
                                     "missing_event_type string")
    found = (load(spark, sf_dir, "events")
             .select(F.col("event_type").alias("missing_event_type")).distinct())
    return expected.join(found, "missing_event_type", "left_anti")


ORACLE_EXPECTED_MINUS_FOUND = """
SELECT missing_event_type
FROM (VALUES ('click'),('view'),('purchase'),('signup'),('error'),('refund'),('chargeback'))
     t(missing_event_type)
WHERE missing_event_type NOT IN (SELECT DISTINCT event_type FROM events)
"""


def q_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + U1: per-table row counts unioned (len(df) logging deltas,
    odds_data_collector.py:45)."""
    parts = []
    for t in ("lineitem", "orders", "events"):
        parts.append(load(spark, sf_dir, t)
                     .agg(F.count("*").alias("n"))
                     .select(F.lit(t).alias("table_name"), "n"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_TABLE_COUNTS = """
SELECT 'lineitem' AS table_name, COUNT(*) AS n FROM lineitem
UNION ALL SELECT 'orders', COUNT(*) FROM orders
UNION ALL SELECT 'events', COUNT(*) FROM events
"""


# ---------------------------------------------------------------------------
# Windowed aggregations (X1 exp-weighted mean, trailing means)
# ---------------------------------------------------------------------------

def q_exp_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: the declared downstream aggregation (config.py:3-5 —
    exp_weighted_mean, decay 0.88, last 16) per user over the event feed."""
    ev = load(spark, sf_dir, "events")
    out = exp_weighted_mean(ev, ["user_id"], "ts", "value",
                            decay=0.88, last_n=16, tiebreak=["event_id"])
    return out.select("user_id", F.round("ewm_value", 6).alias("ewm_value"))


ORACLE_EXP_WEIGHTED = """
WITH r AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id,
       ROUND(SUM(value * pow(0.88, rn - 1)) / SUM(pow(0.88, rn - 1)), 6) AS ewm_value
FROM r WHERE rn <= 16 GROUP BY user_id
"""


def q_trailing_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Last 3' trailing split (xlsx cols_to_keep; SURVEY §2.4 note) computed
    from grain data with an explicit window frame."""
    ev = load(spark, sf_dir, "events")
    out = trailing_mean(ev, ["user_id"], "ts", "value", 3, "trailing_avg3",
                        tiebreak=["event_id"])
    return out.select("event_id", "user_id", "ts",
                      F.round("trailing_avg3", 6).alias("trailing_avg3"))


ORACLE_TRAILING_AVG = """
SELECT event_id, user_id, ts,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS trailing_avg3
FROM events
"""


# ---------------------------------------------------------------------------
# Matchup self-join + differentials (J2/X2), as-of join (J3)
# ---------------------------------------------------------------------------

def q_matchup_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+X2: home/road double-join of a keyed stats frame onto a spine with
    *_matchup_differential projection (config.py:6-101 contract). Spine =
    nation pairs within a region; stats = per-nation avg customer balance."""
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    stats = (customer.groupBy("c_nationkey")
             .agg((F.sum(_dec("c_acctbal")).cast("double") / F.count("*"))
                  .alias("avg_acctbal"))
             .select(F.col("c_nationkey").alias("team"), "avg_acctbal"))
    n1 = nation.select(F.col("n_nationkey").alias("home_team"),
                       F.col("n_regionkey").alias("rk1"))
    n2 = nation.select(F.col("n_nationkey").alias("road_team"),
                       F.col("n_regionkey").alias("rk2"))
    spine = (n1.join(n2, (n1.rk1 == n2.rk2)
                     & (n1.home_team < n2.road_team))
             .select(F.col("rk1").alias("region_key"), "home_team", "road_team"))
    out = matchup_join(spine, stats, "team", "home_team", "road_team",
                       ["avg_acctbal"])
    return out.select(
        "region_key", "home_team", "road_team",
        F.round("home_avg_acctbal", 6).alias("home_avg_acctbal"),
        F.round("road_avg_acctbal", 6).alias("road_avg_acctbal"),
        F.round("avg_acctbal_matchup_differential", 6)
         .alias("avg_acctbal_matchup_differential"))


ORACLE_MATCHUP = """
WITH stats AS (
  SELECT c_nationkey AS team,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_acctbal
  FROM customer GROUP BY c_nationkey),
spine AS (
  SELECT n1.n_regionkey AS region_key, n1.n_nationkey AS home_team, n2.n_nationkey AS road_team
  FROM nation n1 JOIN nation n2
    ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey)
SELECT region_key, home_team, road_team,
       ROUND(h.avg_acctbal, 6) AS home_avg_acctbal,
       ROUND(r.avg_acctbal, 6) AS road_avg_acctbal,
       ROUND(h.avg_acctbal - r.avg_acctbal, 6) AS avg_acctbal_matchup_differential
FROM spine
LEFT JOIN stats h ON spine.home_team = h.team
LEFT JOIN stats r ON spine.road_team = r.team
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: as-of temporal join ('stats as of game time', README.md:64-67):
    each purchase gets the latest click at-or-before it per user. Implemented
    join-free (union + last-non-null window, operators/joins.py:asof_join)."""
    ev = load(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts", "value"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max_by("value", "event_id").alias("click_value")))
    out = asof_join(purchases, clicks, ["user_id"], "ts", "ts",
                    ["click_value"], suffix="_asof")
    return out.select("event_id", "user_id", "ts", "value", "click_value_asof")


ORACLE_ASOF = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT p.event_id, p.user_id, p.ts, p.value, c.click_value AS click_value_asof
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
"""


# ---------------------------------------------------------------------------
# Sorts / limits (O1), unions (U1), scans (T11/T12)
# ---------------------------------------------------------------------------

def q_multi_key_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: multi-key mixed-direction sort + limit (get_odds.py:62-66)."""
    ev = load(spark, sf_dir, "events")
    return (ev.orderBy(F.col("event_type").asc(), F.col("value").desc(),
                       F.col("ts").asc(), F.col("event_id").asc())
            .limit(100))


ORACLE_MULTI_KEY_SORT = """
SELECT * FROM events
ORDER BY event_type ASC, value DESC, ts ASC, event_id ASC
LIMIT 100
"""


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: by-name union with missing columns (pandas concat alignment,
    get_odds.py:89 / box_score_cllector.py:31)."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "value", "props")
    return clicks.unionByName(errors, allowMissingColumns=True)


ORACLE_UNION_BY_NAME = """
SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
UNION ALL BY NAME
SELECT event_id, user_id, value, props FROM events WHERE event_type = 'error'
"""


def q_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11+T12: the documented read-side pattern (README.md:121-167) —
    time-range predicate + 3-column projection, both pushed to the scan."""
    li = load(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
                      & (F.col("l_shipdate") < F.lit("2000-04-01").cast("timestamp")))
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"))


ORACLE_FILTER_PUSHDOWN = """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '2000-04-01 00:00:00'
"""


# ---------------------------------------------------------------------------
# String / regex transforms (T3/T4/T5/T8/T9/T10), json (§2.7)
# ---------------------------------------------------------------------------

def q_record_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: 'W-L(-T)' record split (team_rankings_scraper.py:48-82) over
    synthesized records; aggregated per order status."""
    orders = load(spark, sf_dir, "orders")
    rec = F.concat((F.col("o_orderkey") % 17).cast("string"), F.lit("-"),
                   (F.col("o_custkey") % 13).cast("string"),
                   F.when(F.col("o_orderkey") % 3 == 0,
                          F.concat(F.lit("-"), (F.col("o_orderkey") % 5).cast("string")))
                   .otherwise(F.lit("")))
    split = split_record(orders.withColumn("record", rec), "record", prefix="record")
    return (split.groupBy("o_orderstatus").agg(
        F.sum("record_wins").alias("sum_wins"),
        F.sum("record_losses").alias("sum_losses"),
        F.sum("record_ties").alias("sum_ties"),
        F.sum("record_games_played").alias("sum_games_played")))


ORACLE_RECORD_SPLIT = """
WITH rec AS (
  SELECT o_orderstatus,
         (o_orderkey % 17) AS wins,
         (o_custkey % 13) AS losses,
         CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 5 ELSE 0 END AS ties
  FROM orders)
SELECT o_orderstatus,
       CAST(SUM(wins) AS BIGINT) AS sum_wins,
       CAST(SUM(losses) AS BIGINT) AS sum_losses,
       CAST(SUM(ties) AS BIGINT) AS sum_ties,
       CAST(SUM(wins + losses + ties) AS BIGINT) AS sum_games_played
FROM rec GROUP BY o_orderstatus
"""


def q_pct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: percentage-string -> fraction (team_rankings_scraper.py:133-141)
    with '--'/'' dirty values (T4/T8) folded in; exact-decimal aggregation."""
    li = load(spark, sf_dir, "lineitem")
    pct = (F.when(F.col("l_orderkey") % 7 == 0, F.lit("--"))
           .when(F.col("l_orderkey") % 5 == 0, F.lit(""))
           .otherwise(F.concat((F.col("l_orderkey") % 90 + 10).cast("string"),
                               F.lit(".5%"))))
    parsed = pct_to_fraction(clean_string(pct)).cast("decimal(18,6)")
    return (li.withColumn("__p", parsed)
            .groupBy("l_returnflag")
            .agg((F.sum("__p").cast("double") / F.count("__p")).alias("avg_pct_frac"),
                 F.count("__p").alias("n_parsed"),
                 F.count("*").alias("n_rows")))


ORACLE_PCT_PARSE = """
WITH raw AS (
  SELECT l_returnflag,
         CASE WHEN l_orderkey % 7 = 0 THEN '--'
              WHEN l_orderkey % 5 = 0 THEN ''
              ELSE ((l_orderkey % 90 + 10)::VARCHAR || '.5%') END AS pct
  FROM lineitem),
cleaned AS (
  SELECT l_returnflag,
         CASE WHEN pct IN ('--', '') THEN NULL
              ELSE CAST(replace(pct, '%', '')::DOUBLE / 100 AS DECIMAL(18,6)) END AS p
  FROM raw)
SELECT l_returnflag,
       CAST(SUM(p) AS DOUBLE) / COUNT(p) AS avg_pct_frac,
       COUNT(p) AS n_parsed, COUNT(*) AS n_rows
FROM cleaned GROUP BY l_returnflag
"""


def q_clean_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T8/T9: ''/sentinel/'--' normalization chain (s3_client.py:96-98,
    team_rankings_data_collector.py:26) then a group count over the cleaned
    values, with a null-fill default (T2)."""
    cust = load(spark, sf_dir, "customer")
    dirty = (F.when(F.col("c_custkey") % 11 == 0, F.lit("None"))
             .when(F.col("c_custkey") % 11 == 1, F.lit("nan"))
             .when(F.col("c_custkey") % 11 == 2, F.lit("<NA>"))
             .when(F.col("c_custkey") % 11 == 3, F.lit(""))
             .when(F.col("c_custkey") % 11 == 4, F.lit("--"))
             .otherwise(F.col("c_mktsegment")))
    cleaned = F.coalesce(clean_string(dirty), F.lit("UNKNOWN"))
    return (cust.select(cleaned.alias("segment_clean"))
            .groupBy("segment_clean").agg(F.count("*").alias("n")))


ORACLE_CLEAN_SENTINELS = """
WITH dirty AS (
  SELECT CASE WHEN c_custkey % 11 = 0 THEN 'None'
              WHEN c_custkey % 11 = 1 THEN 'nan'
              WHEN c_custkey % 11 = 2 THEN '<NA>'
              WHEN c_custkey % 11 = 3 THEN ''
              WHEN c_custkey % 11 = 4 THEN '--'
              ELSE c_mktsegment END AS v
  FROM customer)
SELECT COALESCE(CASE WHEN v IN ('None','nan','<NA>','','--') THEN NULL ELSE v END,
                'UNKNOWN') AS segment_clean,
       COUNT(*) AS n
FROM dirty GROUP BY 1
"""


def q_coerce_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: the type-coercion engine (s3_client.py:45-100) as a declared-
    schema coercion: dirty string columns -> typed numerics, then exact
    aggregation. Uses operators.clean.coerce_types."""
    from pyspark.sql import types as T

    from ..operators.clean import coerce_types
    li = load(spark, sf_dir, "lineitem")
    dirty = li.select(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 13 == 0, F.lit("--"))
         .when(F.col("l_orderkey") % 13 == 1, F.lit(""))
         .when(F.col("l_orderkey") % 13 == 2, F.lit("nan"))
         .when(F.col("l_orderkey") % 13 == 3,
               F.concat((F.col("l_quantity") * 2).cast("string"), F.lit("%")))
         .otherwise(F.col("l_quantity").cast("string")).alias("qty_str"))
    target = T.StructType([
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("qty_str", T.DoubleType()),
    ])
    coerced = coerce_types(dirty, target)
    return (coerced
            .groupBy("l_returnflag")
            .agg(F.sum(F.col("qty_str").cast("decimal(18,6)")).cast("double")
                 .alias("sum_qty_coerced"),
                 F.count("qty_str").alias("n_coerced"),
                 F.count("*").alias("n_rows")))


ORACLE_COERCE_TYPES = """
WITH dirty AS (
  SELECT l_returnflag,
         CASE WHEN l_orderkey % 13 = 0 THEN '--'
              WHEN l_orderkey % 13 = 1 THEN ''
              WHEN l_orderkey % 13 = 2 THEN 'nan'
              WHEN l_orderkey % 13 = 3 THEN ((l_quantity * 2)::VARCHAR || '%')
              ELSE l_quantity::VARCHAR END AS qty_str
  FROM lineitem),
coerced AS (
  SELECT l_returnflag,
         CASE WHEN qty_str IN ('--','','nan','None','<NA>','NaN') THEN NULL
              WHEN right(qty_str, 1) = '%'
                THEN replace(qty_str, '%', '')::DOUBLE / 100
              ELSE qty_str::DOUBLE END AS qty
  FROM dirty)
SELECT l_returnflag,
       CAST(SUM(CAST(qty AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty_coerced,
       COUNT(qty) AS n_coerced, COUNT(*) AS n_rows
FROM coerced GROUP BY l_returnflag
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 JSON field access (get_odds.py:45-57 .get() chain) via
    get_json_object over the events props column."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (ev.withColumn("__k", k)
            .groupBy("event_type")
            .agg((F.sum("__k").cast("double") / F.count("__k")).alias("avg_k"),
                 F.sum("__k").alias("sum_k"),
                 F.count("__k").alias("n_k")))


ORACLE_JSON_EXTRACT = """
WITH j AS (SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS k FROM events)
SELECT event_type,
       CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
       CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(k) AS n_k
FROM j GROUP BY event_type
"""


def q_priority_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 regexp_extract (team_rankings_scraper.py:60): pull the numeric
    rank out of 'N-LABEL' priority strings."""
    orders = load(spark, sf_dir, "orders")
    prio = F.regexp_extract("o_orderpriority", r"^(\d+)", 1).cast("int")
    return (orders.withColumn("prio_num", prio)
            .groupBy("prio_num")
            .agg(F.count("*").alias("n"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("sum_totalprice")))


ORACLE_PRIORITY_EXTRACT = """
SELECT regexp_extract(o_orderpriority, '^(\\d+)', 1)::INTEGER AS prio_num,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Time ops (T13/T14), streaming-shaped windows (§2.9)
# ---------------------------------------------------------------------------

def q_tz_hour_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: UTC -> venue-timezone conversion (src/main.py:31-35,
    weather_client.py:131-138) + local-hour histogram."""
    ev = load(spark, sf_dir, "events")
    local = F.from_utc_timestamp("ts", "America/New_York")
    return (ev.select(F.hour(local).alias("hour_local"),
                      _dec("value").alias("__v"))
            .groupBy("hour_local")
            .agg(F.count("*").alias("n"),
                 F.sum("__v").cast("double").alias("sum_value")))


ORACLE_TZ_HOUR = """
SELECT hour((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York') AS hour_local,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_hourly_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14: hourly spine via sequence+explode (pd.date_range analog,
    weather_client.py:132-137) with zero-filled gap buckets."""
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("event_type") == "signup"))
    return zero_filled_counts(ev, "ts", "1 hour", out_count="n")


ORACLE_HOURLY_ZERO_FILL = """
WITH ev AS (SELECT ts FROM events WHERE event_type = 'signup'),
bounds AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM ev),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
counts AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n FROM ev GROUP BY 1)
SELECT spine.bucket, COALESCE(counts.n, 0) AS n
FROM spine LEFT JOIN counts ON spine.bucket = counts.bucket
"""


def q_hourly_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14+interp: hourly averages for a sparse event type with NULL gaps
    linearly interpolated (the weather client's dense-frame contract,
    weather_client.py:132-150, when observations are missing)."""
    from ..operators.timeseries import interpolate_linear, spine_from_bounds
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    hourly = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
              .agg((F.sum(_dec("value")).cast("double") / F.count("*"))
                   .alias("avg_value")))
    spine = spine_from_bounds(ev, "ts", "1 hour")
    sparse = spine.join(hourly, "bucket", "left")
    out = interpolate_linear(sparse, "bucket", "avg_value",
                             out_col="value_interp")
    return out.select("bucket",
                      F.round("avg_value", 6).alias("avg_value"),
                      F.round("value_interp", 6).alias("value_interp"))


ORACLE_HOURLY_INTERPOLATE = """
WITH ev AS (SELECT ts, value FROM events WHERE event_type = 'error'),
bounds AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM ev),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
hourly AS (
  SELECT date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
  FROM ev GROUP BY 1),
sparse AS (SELECT spine.bucket, hourly.avg_value
           FROM spine LEFT JOIN hourly ON spine.bucket = hourly.bucket),
filled AS (
  SELECT bucket, avg_value,
    last_value(avg_value IGNORE NULLS) OVER
      (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER
      (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
    first_value(avg_value IGNORE NULLS) OVER
      (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER
      (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
  FROM sparse)
SELECT bucket, ROUND(avg_value, 6) AS avg_value,
  ROUND(CASE WHEN avg_value IS NOT NULL THEN avg_value
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             ELSE prev_v + (next_v - prev_v)
                  * (CAST(epoch(bucket) - epoch(prev_ts) AS DOUBLE)
                     / CAST(epoch(next_ts) - epoch(prev_ts) AS DOUBLE)) END,
        6) AS value_interp
FROM filled
"""


def q_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: tumbling weekly windows over the append feed (the 'last 12
    weeks' read pattern, README.md:124-137)."""
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("week", F.col("ts")).alias("week_start"),
                       "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(_dec("value")).cast("double").alias("sum_value")))


ORACLE_WEEKLY_ROLLUP = """
SELECT date_trunc('week', ts)::TIMESTAMP AS week_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 restructure: long->wide pivot (the scale-safe replacement for the
    reference's 221 chained left-joins, team_rankings_scraper.py:229-235)."""
    ev = load(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (ev.groupBy("user_id")
            .pivot("event_type", types)
            .agg(F.sum(_dec("value"))))
    return wide.select("user_id",
                       *[F.col(t).cast("double").alias(f"sum_{t}") for t in types])


ORACLE_PIVOT_WIDE = """
SELECT user_id,
  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_click,
  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_view,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_signup,
  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_error
FROM events GROUP BY user_id
"""


def sorted_group_vals(value) -> Column:
    """Aggregate expression for the sorted-array exact-percentile kernel:
    the group's non-null values as one ascending double array. Paired with
    :func:`percentile_from_sorted` this computes `percentile(v, p)`
    BIT-IDENTICALLY (hex-compared per bound at all three SFs)
    but ~2x faster at sf0.1: `Percentile` builds a per-group value->count
    OpenHashMap in update, serializes it through the partial aggregation,
    merges 32 of them and SORTS the keys at eval — `collect_list` rides
    the same partial aggregation as primitive double arrays (same shuffle
    bytes as the raw values when duplication ~ 1, which the sf corpora
    measure at ~1.0) and `array_sort` replaces the map machinery with one
    primitive sort per group. Memory bound unchanged: both forms buffer
    the whole group per aggregator (the documented reason the binned
    twins remain the 100 TB path). NULL handling matches: collect_list
    drops nulls exactly as Percentile skips them."""
    return F.array_sort(F.collect_list(value.cast("double")))


def percentile_from_sorted(arr, p: float) -> Column:
    """`Percentile.getPercentile`'s EXACT arithmetic over a sorted array
    `arr`: pos = p * (n-1); lower = floor(pos); higher = ceil(pos);
    result = a[lower] when higher == lower else
    (higher - pos) * a[lower] + (pos - lower) * a[higher] — the same
    expression tree Spark evaluates, NOT the algebraically-equal
    lo + d*(hi-lo) form, whose last ulp differs (observed on sf0.1 flag
    'R'). Empty array (all-null group) yields NULL like Percentile; the
    when-guard keeps element_at's 1-based index in [1, n] so ANSI mode
    never raises."""
    if isinstance(arr, str):
        arr = F.col(arr)
    pos = F.lit(float(p)).cast("double") * (F.size(arr) - 1)
    lower = F.floor(pos)
    higher = F.ceil(pos)
    v_lo = F.element_at(arr, (lower + 1).cast("int"))
    v_hi = F.element_at(arr, (higher + 1).cast("int"))
    return (F.when(F.size(arr) == 0, F.lit(None).cast("double"))
            .when(higher == lower, v_lo)
            .otherwise((higher.cast("double") - pos) * v_lo
                       + (pos - lower.cast("double")) * v_hi))


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark ``percentile`` ==
    ANSI continuous quantile == DuckDB ``quantile_cont``) plus a
    deterministic sample variance computed from exact decimal sums — the
    descriptive-stats read-side pattern. percentile_approx/t-digest sketches
    are the at-scale variant; the exact form is the oracle-able baseline."""
    ev = load(spark, sf_dir, "events")
    sum_v = F.sum(_dec("value")).cast("double")
    sum_sq = F.sum(_dec("value") * _dec("value")).cast("double")
    n = F.count("*")
    # try_divide: a single-row group makes (n-1)=0, which under ANSI mode is
    # a DIVIDE_BY_ZERO error; NULL matches DuckDB's x/0 behavior
    var = F.try_divide(sum_sq - sum_v * sum_v / n, (n - 1).cast("double"))
    # all three ranks from ONE sorted-array buffer (sorted_group_vals /
    # percentile_from_sorted — Percentile's exact arithmetic, so output
    # identical; ~2x over the map-buffer percentile())
    return (ev.groupBy("event_type").agg(
        n.alias("n"),
        sorted_group_vals(F.col("value")).alias("__a"),
        F.round(var, 6).alias("var_sample"))
        .select("event_type", "n",
                F.round(percentile_from_sorted("__a", 0.5), 6).alias("p50"),
                F.round(percentile_from_sorted("__a", 0.9), 6).alias("p90"),
                F.round(percentile_from_sorted("__a", 0.99), 6).alias("p99"),
                "var_sample"))


ORACLE_VALUE_PERCENTILES = """
SELECT event_type, COUNT(*) AS n,
  ROUND(quantile_cont(value, 0.5), 6) AS p50,
  ROUND(quantile_cont(value, 0.9), 6) AS p90,
  ROUND(quantile_cont(value, 0.99), 6) AS p99,
  ROUND((CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
        / (COUNT(*) - 1), 6) AS var_sample
FROM events GROUP BY event_type
"""


SAMPLE_QUANT_MOD = 10   # deterministic 1-in-10 hash sample


def q_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order statistics at scale via deterministic hash sampling: exact
    interpolated percentiles computed on a content-keyed 1-in-10 sample of
    lineitem. q_value_percentiles is the exact baseline; THIS is the 100 TB
    path — exact quantiles need a global sort (or per-group collect), but a
    uniform sample bounds the sorted set to n/MOD rows with rank error
    O(1/sqrt(n/MOD)), and the hash gate (h60 of the row key, not rand())
    makes the sample reproducible across runs, engines, retries, and
    repartitionings — so the oracle can check the REAL pipeline, not a
    statistical proxy. The filter is row-local (map-side); only sampled
    rows reach the percentile aggregate."""
    from ..functions.hashing import h60
    li = load(spark, sf_dir, "lineitem")
    key = F.concat(F.col("l_orderkey").cast("string"), F.lit("_"),
                   F.col("l_linenumber").cast("string"))
    samp = li.filter(h60(key) % SAMPLE_QUANT_MOD == 0)
    # all four ranks from ONE sorted-array buffer over the (monotone)
    # DOUBLE cast — the sorted kernel; identical output (same
    # sorted values, Percentile's exact interpolation arithmetic)
    return (samp.groupBy("l_returnflag")
            .agg(F.count("*").alias("n_sampled"),
                 sorted_group_vals(F.col("l_extendedprice")).alias("__a"))
            .select("l_returnflag", "n_sampled",
                    F.round(percentile_from_sorted("__a", 0.25), 6)
                     .alias("p25"),
                    F.round(percentile_from_sorted("__a", 0.5), 6)
                     .alias("p50"),
                    F.round(percentile_from_sorted("__a", 0.9), 6)
                     .alias("p90"),
                    F.round(percentile_from_sorted("__a", 0.99), 6)
                     .alias("p99")))


def _oracle_sampled_quantiles() -> str:
    h = h60_sql("l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR")
    return f"""
SELECT l_returnflag, COUNT(*) AS n_sampled,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem
WHERE {h} % {SAMPLE_QUANT_MOD} = 0
GROUP BY l_returnflag
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP ROLLUP: order revenue by (status, priority-prefix) with subtotal
    and grand-total rows — the multi-granularity report shape. NULL grouping
    keys are coalesced to sentinels so both engines label subtotal rows
    identically."""
    orders = load(spark, sf_dir, "orders")
    prio = F.regexp_extract("o_orderpriority", r"^(\d+)", 1)
    return (orders
            .withColumn("prio", prio)
            .rollup("o_orderstatus", "prio")
            .agg(F.count("*").alias("n"),
                 F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"))
            .select(F.coalesce(F.col("o_orderstatus"), F.lit("<ALL>")).alias("status"),
                    F.coalesce(F.col("prio"), F.lit("<ALL>")).alias("prio"),
                    "n", "sum_price"))


ORACLE_ROLLUP_REVENUE = """
SELECT COALESCE(o_orderstatus, '<ALL>') AS status,
       COALESCE(prio, '<ALL>') AS prio,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM (SELECT o_orderstatus, regexp_extract(o_orderpriority, '^(\\d+)', 1) AS prio,
             o_totalprice
      FROM orders)
GROUP BY ROLLUP (o_orderstatus, prio)
"""


def q_explode_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: array explode (the odds JSON unnest, get_odds.py:44-59) over the
    embeddings vectors: per-dimension stats via posexplode."""
    emb = load(spark, sf_dir, "embeddings")
    return (emb.select(F.posexplode("embedding").alias("pos0", "val"))
            .select((F.col("pos0") + 1).alias("dim"),
                    F.col("val").cast("double").cast("decimal(18,8)").alias("__v"))
            .groupBy("dim")
            .agg((F.sum("__v").cast("double") / F.count("*")).alias("avg_val"),
                 F.count("*").alias("n")))


ORACLE_EXPLODE_ARRAY = """
WITH u AS (
  SELECT unnest(embedding) AS val, generate_subscripts(embedding, 1) AS dim
  FROM embeddings)
SELECT dim,
       CAST(SUM(CAST(val::DOUBLE AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_val,
       COUNT(*) AS n
FROM u GROUP BY dim
"""


KMV_K = 64
H60_SPACE = float(1 << 60)


def q_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distinct-count sketch: K-minimum-values over h60.

    The 100 TB shape for COUNT DISTINCT: instead of shuffling every distinct
    key, each partition keeps its K smallest key hashes (a tiny bounded
    state, mergeable like any sketch); the estimate is (K-1) / (kth-min
    normalized to [0,1]). Unlike HLL implementations, KMV over the md5-h60
    primitive is bit-reproducible in ANSI SQL, so the ORACLE CHECKS THE
    SKETCH ITSELF, not just a tolerance. Exact count included for the
    accuracy comparison."""
    from ..functions.hashing import h60
    ev = load(spark, sf_dir, "events")
    hashed = (ev.select("event_type",
                        h60(F.col("user_id").cast("string")).alias("h"))
              .distinct())
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (hashed.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= KMV_K)
           .groupBy("event_type")
           .agg(F.max("h").alias("kth"), F.count("*").alias("got")))
    est = (F.when(F.col("got") < KMV_K, F.col("got").cast("double"))
           .otherwise((KMV_K - 1) * H60_SPACE / F.col("kth").cast("double")))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return (kth.join(exact, "event_type")
            .select("event_type", "exact_distinct",
                    F.round(est, 3).alias("kmv_estimate")))


ORACLE_DISTINCT_KMV = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         {h60_sql('user_id::VARCHAR')} AS h
  FROM events),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed),
kth AS (
  SELECT event_type, MAX(h) AS kth, COUNT(*) AS got
  FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type)
SELECT k.event_type, e.exact_distinct,
       ROUND(CASE WHEN k.got < {KMV_K} THEN k.got::DOUBLE
                  ELSE ({KMV_K} - 1) * {H60_SPACE} / k.kth::DOUBLE END,
             3) AS kmv_estimate
FROM kth k JOIN exact e ON k.event_type = e.event_type
"""


HLL_B = 8                       # 2^8 = 256 registers
HLL_M = 1 << HLL_B
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_WBITS = 52                  # rank window inside the 60-bit hash


def q_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-count sketch — the register
    sibling of q_distinct_kmv, completing the sketch family (CMS, Bloom,
    KMV, HLL). bucket = h60 mod 256; rank = leading-zero count of the
    remaining 52 bits + 1 (via length(bin(w)) — string-exact in both
    engines, no float log2); register = MAX(rank) per (group, bucket),
    duplicate-insensitive by construction.

    Determinism discipline for the harmonic mean: the indicator sum
    Σ 2^-M_j is NOT accumulated in floats (adding 2^-53 to a sum of
    order 10^2 rounds, and the rounding depends on engine-specific
    aggregation order). Each term is instead the exact int64
    2^(52+1-M_j) and the sum is integer (≤ 256·2^53 < 2^63); the single
    float division by 2^53 afterwards is order-free. Raw estimate only
    (no small-range correction); n_zero_regs is reported so a consumer
    can apply linear counting. Sketch state is m registers per group —
    the O(1)-memory COUNT DISTINCT at 100 TB, mergeable by MAX."""
    from ..functions.hashing import h60
    ev = load(spark, sf_dir, "events")
    h = h60(F.col("user_id").cast("string"))
    w = F.expr(f"h div {HLL_M}")
    rank = F.when(F.col("w") == 0, F.lit(HLL_WBITS + 1)).otherwise(
        HLL_WBITS - F.length(F.expr("bin(w)")) + 1)
    regs = (ev.select("event_type", h.alias("h"))
            .withColumn("bucket", F.expr(f"h % {HLL_M}"))
            .withColumn("w", w)
            .withColumn("rank", rank)
            .groupBy("event_type", "bucket")
            .agg(F.max("rank").alias("reg")))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(
        F.broadcast(spark.range(HLL_M).select(F.col("id").alias("bucket"))))
    full = (spine.join(regs, ["event_type", "bucket"], "left")
            .fillna(0, ["reg"]))
    term = F.expr(f"cast(pow(2, {HLL_WBITS + 1} - reg) as bigint)")
    agg = (full.groupBy("event_type")
           .agg(F.sum(term).alias("s"),
                F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
                 .alias("n_zero_regs")))
    est = (F.lit(HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_WBITS + 1)))
           / F.col("s").cast("double"))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return (agg.join(exact, "event_type")
            .select("event_type", "exact_distinct", "n_zero_regs",
                    F.round(est, 3).alias("hll_estimate")))


ORACLE_DISTINCT_HLL = f"""
WITH h AS (
  SELECT event_type,
         {h60_sql('user_id::VARCHAR')} AS h
  FROM events),
r AS (
  SELECT event_type, h % {HLL_M} AS bucket, h // {HLL_M} AS w FROM h),
ranked AS (
  SELECT event_type, bucket,
         CASE WHEN w = 0 THEN {HLL_WBITS + 1}
              ELSE {HLL_WBITS} - length(bin(w)) + 1 END AS rank
  FROM r),
regs AS (
  SELECT event_type, bucket, MAX(rank) AS reg
  FROM ranked GROUP BY event_type, bucket),
spine AS (
  SELECT t.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(0, {HLL_M - 1})) AS bucket) g),
full_regs AS (
  SELECT spine.event_type, COALESCE(regs.reg, 0) AS reg
  FROM spine LEFT JOIN regs
    ON spine.event_type = regs.event_type AND spine.bucket = regs.bucket),
agg AS (
  SELECT event_type,
         CAST(SUM(CAST(POW(2, {HLL_WBITS + 1} - reg) AS BIGINT)) AS BIGINT)
           AS s,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_regs
  FROM full_regs GROUP BY event_type),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type)
SELECT a.event_type, e.exact_distinct, a.n_zero_regs,
       ROUND({HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_WBITS + 1))!r}
             / a.s::DOUBLE, 3) AS hll_estimate
FROM agg a JOIN exact e ON a.event_type = e.event_type
"""


def q_hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY, proven — the property that makes sketches the
    100 TB path at all: HLL registers built independently per month
    partition and merged by MAX must equal the registers of one direct
    global build, bucket for bucket. This is incremental_agg_merge's
    materialized-view law applied to the sketch family: a cluster
    maintains per-partition sketch tables and answers global COUNT
    DISTINCT by merging O(partitions x m) registers — never rescanning
    history. Output is all-integer (register equality counts + the exact
    int64 indicator sums both ways), so the proof is hash-checked, not
    eyeballed: n_equal == n_buckets and s_merged == s_direct for every
    group, by the associativity of MAX."""
    from ..functions.hashing import h60
    ev = load(spark, sf_dir, "events")
    ranked = (ev.select("event_type",
                        F.expr("year(ts) * 100 + month(ts)").alias("ym"),
                        h60(F.col("user_id").cast("string")).alias("h"))
              .withColumn("bucket", F.expr(f"h % {HLL_M}"))
              .withColumn("w", F.expr(f"h div {HLL_M}"))
              .withColumn("rank",
                          F.when(F.col("w") == 0, F.lit(HLL_WBITS + 1))
                           .otherwise(HLL_WBITS
                                      - F.length(F.expr("bin(w)")) + 1)))
    monthly = (ranked.groupBy("event_type", "ym", "bucket")
               .agg(F.max("rank").alias("reg")))
    merged = (monthly.groupBy("event_type", "bucket")
              .agg(F.max("reg").alias("reg_m")))
    direct = (ranked.groupBy("event_type", "bucket")
              .agg(F.max("rank").alias("reg_d")))
    term = "cast(pow(2, {p} - {c}) as bigint)"
    return (direct.join(merged, ["event_type", "bucket"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_buckets"),
                 F.sum((F.col("reg_m") == F.col("reg_d")).cast("bigint"))
                  .alias("n_equal"),
                 F.sum(F.expr(term.format(p=HLL_WBITS + 1, c="reg_d")))
                  .alias("s_direct"),
                 F.sum(F.expr(term.format(p=HLL_WBITS + 1, c="reg_m")))
                  .alias("s_merged")))


ORACLE_HLL_MERGE = f"""
WITH ranked AS (
  SELECT event_type,
         year(ts) * 100 + month(ts) AS ym,
         {h60_sql('user_id::VARCHAR')} % {HLL_M}
           AS bucket,
         CASE WHEN {h60_sql('user_id::VARCHAR')}
                   // {HLL_M} = 0 THEN {HLL_WBITS + 1}
              ELSE {HLL_WBITS}
                   - length(bin({h60_sql('user_id::VARCHAR')} // {HLL_M}))
                   + 1 END AS rank
  FROM events),
monthly AS (
  SELECT event_type, ym, bucket, MAX(rank) AS reg
  FROM ranked GROUP BY 1, 2, 3),
merged AS (
  SELECT event_type, bucket, MAX(reg) AS reg_m FROM monthly GROUP BY 1, 2),
direct AS (
  SELECT event_type, bucket, MAX(rank) AS reg_d FROM ranked GROUP BY 1, 2)
SELECT event_type, COUNT(*) AS n_buckets,
       CAST(SUM(CASE WHEN reg_m = reg_d THEN 1 ELSE 0 END) AS BIGINT)
         AS n_equal,
       CAST(SUM(CAST(POW(2, {HLL_WBITS + 1} - reg_d) AS BIGINT)) AS BIGINT)
         AS s_direct,
       CAST(SUM(CAST(POW(2, {HLL_WBITS + 1} - reg_m) AS BIGINT)) AS BIGINT)
         AS s_merged
FROM direct JOIN merged USING (event_type, bucket)
GROUP BY 1
"""


SKYLINE_BAND_CENTS = 10000      # $100 price bands for the two-phase plan


def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier: the parts no other part beats on
    BOTH price (lower-or-equal) and size (higher-or-equal, one strict) —
    the multi-criteria shortlist query (cheapest-per-capability curve).
    The spec is a quadratic NOT EXISTS dominance check; the implemented
    plan is the two-phase distributed skyline: points land in fixed
    $100 price bands (data-independent key, no global sort), each band
    computes its local running-max-size window over bounded rows, and
    cross-band dominance folds through a per-band max table (|bands|
    rows — broadcast, like topk_salted's phase 2). A point survives iff
    its size exceeds every strictly-cheaper point's (local window + prev-
    band max) and it tops its exact price group. Prices are compared in
    exact integer cents (rule 7); the oracle states the same frontier as
    one global RANGE window — single-node DuckDB's natural form — so the
    banded decomposition is proven equivalent to the declarative spec."""
    pts = (load(spark, sf_dir, "part")
           .select(F.col("p_partkey").alias("k"),
                   cents("p_retailprice").alias("pc"),
                   F.col("p_size").cast("bigint").alias("s"))
           .withColumn("band", F.expr(f"pc div {SKYLINE_BAND_CENTS}")))
    band_max = pts.groupBy("band").agg(F.max("s").alias("bmax"))
    wband = (Window.orderBy("band")
             .rowsBetween(Window.unboundedPreceding, -1))
    prev = (band_max
            .withColumn("prev_max", F.max("bmax").over(wband))
            .select("band", "prev_max"))
    wb = (Window.partitionBy("band").orderBy("pc")
          .rangeBetween(Window.unboundedPreceding, -1))
    wp = Window.partitionBy("pc")
    return (pts.join(F.broadcast(prev), "band", "left")
            .withColumn("m_local", F.max("s").over(wb))
            .withColumn("m1", F.greatest(
                F.coalesce(F.col("m_local"), F.lit(-1)),
                F.coalesce(F.col("prev_max"), F.lit(-1))))
            .withColumn("pmax", F.max("s").over(wp))
            .filter((F.col("s") > F.col("m1"))
                    & (F.col("s") == F.col("pmax")))
            .select(F.col("k").alias("p_partkey"),
                    F.col("pc").alias("price_cents"),
                    F.col("s").alias("p_size")))


ORACLE_SKYLINE = """
WITH pts AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS pc,
         CAST(p_size AS BIGINT) AS s
  FROM part),
m AS (
  SELECT *,
         MAX(s) OVER (ORDER BY pc
                      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS m1,
         MAX(s) OVER (PARTITION BY pc) AS pmax
  FROM pts)
SELECT p_partkey, pc AS price_cents, s AS p_size
FROM m WHERE (m1 IS NULL OR s > m1) AND s = pmax
"""


_NEAREST_TOL_US = 2 * 3600 * 1_000_000      # 2-hour match window


def q_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event temporal join — the BIDIRECTIONAL as-of: each
    purchase pairs with the same user's click closest in time (either
    direction, |delta| <= 2 h, null if none) — sensor-alignment /
    closest-fill semantics that backward-only as-of can't express.
    Scale shape is the same join-free union trick as
    operators/joins.py:asof_join, run once per direction over ONE
    (user, time)-sorted window partitioning: the backward candidate is a
    running MAX of a (ts, -event_id) struct over preceding clicks, the
    forward one a MIN of (ts, event_id) over following clicks — struct
    extrema give the per-direction nearest WITH its pinned tiebreak, no
    range join, no per-row scan. The two candidates then reduce by the
    total order (|delta|, click_ts, click_id) — ties at equal distance
    resolve toward the earlier (backward) click. The oracle states the
    quadratic spec (all candidate pairs ranked by that same order), so
    the window algebra is proven against the definition, not itself.
    Integer microsecond arithmetic throughout (rule 7)."""
    ev = load(spark, sf_dir, "events")
    us = F.expr("timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    base = (ev.filter(F.col("event_type").isin("purchase", "click"))
            .select("user_id", "event_id", us.alias("us"),
                    (F.col("event_type") == "click").cast("int")
                    .alias("is_click")))
    w = Window.partitionBy("user_id").orderBy(
        "us", F.col("is_click").desc(), "event_id")
    click_back = F.when(
        F.col("is_click") == 1,
        F.struct(F.col("us").alias("cus"),
                 (-F.col("event_id")).alias("neg_eid"),
                 F.col("event_id").alias("eid")))
    click_fwd = F.when(
        F.col("is_click") == 1,
        F.struct(F.col("us").alias("cus"), F.col("event_id").alias("eid")))
    cand = (base
            .withColumn("b", F.max(click_back).over(
                w.rowsBetween(Window.unboundedPreceding, -1)))
            .withColumn("f", F.min(click_fwd).over(
                w.rowsBetween(1, Window.unboundedFollowing)))
            .filter(F.col("is_click") == 0))
    kb = F.when(F.col("b").isNotNull(), F.struct(
        (F.col("us") - F.col("b.cus")).alias("d"),
        F.col("b.cus").alias("cus"), F.col("b.eid").alias("eid")))
    kf = F.when(F.col("f").isNotNull(), F.struct(
        (F.col("f.cus") - F.col("us")).alias("d"),
        F.col("f.cus").alias("cus"), F.col("f.eid").alias("eid")))
    chosen = F.when(kb.isNull(), kf).when(kf.isNull(), kb) \
              .when(kb <= kf, kb).otherwise(kf)
    cand = cand.withColumn("ch", chosen)
    ok = F.col("ch").isNotNull() & (F.col("ch.d") <= _NEAREST_TOL_US)
    return cand.select(
        "user_id", F.col("event_id").alias("purchase_event_id"),
        F.when(ok, F.col("ch.eid")).alias("click_event_id"),
        F.when(ok, F.col("ch.cus") - F.col("us")).alias("delta_us"))


ORACLE_NEAREST_EVENT = f"""
WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'click'),
cand AS (
  SELECT p.event_id AS pe, c.event_id AS ce,
         c.us - p.us AS delta, abs(c.us - p.us) AS d, c.us AS cus
  FROM p JOIN c USING (user_id)
  WHERE abs(c.us - p.us) <= {_NEAREST_TOL_US}),
best AS (
  SELECT pe, ce, delta,
         ROW_NUMBER() OVER (PARTITION BY pe
                            ORDER BY d, cus, ce) AS rn
  FROM cand)
SELECT p.user_id, p.event_id AS purchase_event_id,
       b.ce AS click_event_id, b.delta AS delta_us
FROM p LEFT JOIN best b ON b.pe = p.event_id AND b.rn = 1
"""


def q_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to daily OHLC bars (open/high/low/close —
    the financial-resample shape, and generally 'first/last/extremes per
    bucket'). The scale trick: open and close do NOT need a window —
    min/max over a (ts, event_id, value) STRUCT picks the value at the
    earliest/latest pinned instant inside an ordinary aggregation, so the
    whole query is ONE map-side-combinable groupBy (shuffle volume =
    |buckets|), where the textbook row_number formulation pays a full
    per-bucket sort window. The oracle states exactly that textbook
    double-row_number form, proving the struct-extrema algebra equal to
    the windowed spec. (first_value/last_value without a deterministic
    tiebreak is the classic silent-nondeterminism bug — the struct
    carries the (ts, event_id) total order by construction.)"""
    ev = load(spark, sf_dir, "events")
    # day as an ISO string: Spark DATE -> pandas object vs DuckDB DATE ->
    # datetime64 is a driver dtype-kind mismatch even on equal values
    return (ev.select(
                "event_type",
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.struct("ts", "event_id", "value").alias("o"),
                "value")
            .groupBy("event_type", "day")
            .agg(F.min("o").getField("value").alias("open_value"),
                 F.max("value").alias("high_value"),
                 F.min("value").alias("low_value"),
                 F.max("o").getField("value").alias("close_value"),
                 F.count("*").alias("n_events")))


ORACLE_OHLC_DAILY = """
WITH r AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT event_type, day,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       COUNT(*) AS n_events
FROM r GROUP BY 1, 2
"""


SESSION_GAP = "30 minutes"


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's native session_window: per-user event
    sessions split at >30-minute gaps, aggregated per session. The oracle is
    the classic gaps-and-islands SQL — lag + cumulative break-sum — proving
    the built-in window's semantics (session end = last event + gap)
    against first principles."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return (ev.groupBy("user_id",
                       F.session_window("ts", SESSION_GAP).alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(_dec("value")).cast("double").alias("sum_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "sum_value"))


ORACLE_USER_SESSIONS = """
WITH ev AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM ev),
islands AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
       MIN(ts) AS session_start,
       (MAX(ts) + INTERVAL 30 MINUTE)::TIMESTAMP AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM islands GROUP BY user_id, sid
"""


def q_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day value delta per event type (lag window over the daily
    rollup — the trend-report read pattern, README.md:124-137). The lag runs
    on the aggregated relation (|types| x |days| rows), so the window
    shuffle is tiny no matter how large the raw feed is."""
    ev = load(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.sum(_dec("value")).cast("double").alias("day_value")))
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type", "day", "day_value",
        F.round(F.col("day_value") - F.lag("day_value").over(w), 6)
        .alias("delta"))


ORACLE_DAILY_DELTA = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::TIMESTAMP AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2)
SELECT event_type, day, day_value,
       ROUND(day_value - lag(day_value) OVER
               (PARTITION BY event_type ORDER BY day), 6) AS delta
FROM daily
"""


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with grouping_id — the full
    grouping-sets surface next to q_rollup_revenue's ROLLUP. gid bitmask:
    MSB = first cube column, identical to SQL GROUPING(a, b)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().alias("gid"),
                 F.count("*").alias("n"),
                 F.sum(_dec("l_quantity")).cast("double").alias("sum_qty")))


ORACLE_CUBE_SALES = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


def q_status_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 INTERSECT: customers with BOTH an open ('O') and a fulfilled
    ('F') order. Catalyst plans intersect-distinct as a left-semi join
    after per-side aggregation — one shuffle on the key, no row explosion."""
    o = load(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.intersect(done_c)


ORACLE_STATUS_INTERSECT = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def q_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend quartiles: ntile(4) over total spend (pinned order:
    spend desc, custkey), then per-quartile count + exact-decimal mean.
    Scale note: the global ntile funnels the per-customer aggregate through
    one partition — fine for a quartile REPORT (output is 4 rows and input
    is 1 row/customer), but for bucketing 10^8+ customers switch to
    percentile_approx cutoffs joined back (no single-partition sort)."""
    o = load(spark, sf_dir, "orders")
    spend = (o.groupBy("o_custkey")
             .agg(F.sum(_dec("o_totalprice")).cast("double").alias("spend")))
    w = Window.orderBy(F.col("spend").desc(), "o_custkey")
    q = spend.withColumn("quartile", F.ntile(4).over(w))
    return (q.groupBy("quartile")
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.sum(F.col("spend").cast("decimal(18,2)"))
                         .cast("double") / F.count("*"), 6)
                 .alias("avg_spend")))


ORACLE_SPEND_QUARTILES = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey),
q AS (SELECT o_custkey, spend,
             ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS quartile
      FROM spend)
SELECT quartile, COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
         AS avg_spend
FROM q GROUP BY quartile
"""


def q_spend_quartiles_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend quartiles WITHOUT a global window — the 100 TB twin
    of q_spend_quartiles, shipped as a checked entry instead of docstring
    prose. Cutoffs come from ONE percentile_approx aggregate over the
    per-customer spend (map-side partial sketch merge, no sort, no
    single-partition funnel), are broadcast back as a 1-row frame, and the
    quartile assignment is a row-local comparison. Segmentation is
    VALUE-based (ties share a bucket), the scale-correct contract — ntile's
    exactly-equal populations need a global total order by construction.

    Determinism across engines: at accuracy >> N the Greenwald-Khanna
    sketch is rank-exact and Spark's percentile_approx returns the value
    at rank ceil(p*N) — the same convention as DuckDB's quantile_disc
    (verified empirically, including tie blocks). Accuracy ADAPTS to the
    customer count (base.rank_exact_accuracy); at genuinely sketch-bound
    scale pin a fixed accuracy and accept half-a-cell boundary blur —
    value-based bucketing stays deterministic, only the cut
    placement blurs. All money stays in integer cents (rule 7); the mean
    is an integer floor division."""
    o = load(spark, sf_dir, "orders")
    spend = (o.groupBy("o_custkey")
             .agg(F.sum(cents("o_totalprice")).alias("spend_c")))
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    acc = rank_exact_accuracy(spend)
    cuts = spend.agg(
        F.percentile_approx("spend_c", probs, acc).alias("c")
    ).select(F.col("c")[0].alias("c25"), F.col("c")[1].alias("c50"),
             F.col("c")[2].alias("c75"))
    scored = spend.crossJoin(F.broadcast(cuts)).select(
        "spend_c",
        (F.lit(1) + (F.col("spend_c") <= F.col("c75")).cast("int")
                  + (F.col("spend_c") <= F.col("c50")).cast("int")
                  + (F.col("spend_c") <= F.col("c25")).cast("int"))
        .alias("quartile"))          # 1 = top spenders, like the ntile twin
    return (scored.groupBy("quartile")
            .agg(F.count("*").alias("n_customers"),
                 F.sum("spend_c").alias("sum_spend_cents"))
            .withColumn("avg_spend_cents",
                        F.expr("sum_spend_cents div n_customers")))


ORACLE_SPEND_QUARTILES_CUTOFFS = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_c
  FROM orders GROUP BY 1),
cuts AS (
  SELECT quantile_disc(spend_c, 0.25) AS c25,
         quantile_disc(spend_c, 0.5)  AS c50,
         quantile_disc(spend_c, 0.75) AS c75
  FROM spend),
scored AS (
  SELECT spend_c,
         1 + CASE WHEN spend_c <= c75 THEN 1 ELSE 0 END
           + CASE WHEN spend_c <= c50 THEN 1 ELSE 0 END
           + CASE WHEN spend_c <= c25 THEN 1 ELSE 0 END AS quartile
  FROM spend CROSS JOIN cuts)
SELECT quartile, COUNT(*) AS n_customers,
       CAST(SUM(spend_c) AS BIGINT) AS sum_spend_cents,
       CAST(SUM(spend_c) AS BIGINT) // COUNT(*) AS avg_spend_cents
FROM scored GROUP BY 1
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 LEFT SEMI: customers holding at least one open URGENT order.
    The dedup-free existence check — Catalyst keeps the build side as a
    broadcast/semi hash join, never materializing the match multiplicity.
    At 100 TB the probe side streams; no row explosion is possible by
    construction (vs join+distinct which shuffles the blowup first)."""
    cust = load(spark, sf_dir, "customer")
    urgent_open = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O"))
    return (cust.join(urgent_open, cust.c_custkey == urgent_open.o_custkey,
                      "left_semi")
            .select("c_custkey", "c_name", "c_mktsegment"))


ORACLE_SEMI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'O')
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 LEFT ANTI: customers with NO open order — the negated existence
    check (the reference's expected-minus-found A4 generalized to a keyed
    anti-join). Same single-shuffle shape as the semi join."""
    cust = load(spark, sf_dir, "customer")
    open_orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O")
    return (cust.join(open_orders, cust.c_custkey == open_orders.o_custkey,
                      "left_anti")
            .select("c_custkey", "c_name", "c_acctbal"))


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_name, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag, status), (flag), ()) — the general
    form under ROLLUP/CUBE (q_rollup_revenue / q_cube_sales). One pass:
    Catalyst expands the sets with a single Expand node over the scan, so
    three aggregation grains cost one shuffle, not three jobs."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"),
             F.count("*").alias("n"),
             F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price")))


ORACLE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 EXCEPT ALL (bag difference): order-holders minus fulfilled-order
    holders, keeping multiplicity — each custkey survives once per non-'F'
    order. Catalyst plans this as a single hash aggregation over tagged
    counts (no per-row sort), the multiset twin of A4's set difference."""
    o = load(spark, sf_dir, "orders")
    all_holders = o.select("o_custkey")
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return all_holders.exceptAll(fulfilled)


ORACLE_EXCEPT_ALL = """
SELECT o_custkey FROM orders
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def q_acctbal_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over account balance within market segment —
    the distribution-position windows next to ntile (q_spend_quartiles).
    Both are tie-stable (equal inputs get equal ranks), so no tiebreak
    column is needed for determinism. One shuffle on the partition key;
    the per-segment sort is the usual window cost at scale."""
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return cust.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


ORACLE_ACCTBAL_PCTRANK = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
"""


def q_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + least-squares slope/intercept of quantity vs
    extended price per return flag, built from EXACT decimal moments
    (n, Σx, Σy, Σxx, Σyy, Σxy) rather than the engines' native corr()/
    regr_slope() — float aggregation is order-dependent, so native
    aggregates can differ in the last bits between partitioned Spark and
    sequential DuckDB. Decimal sums are exact in any order; the closing
    arithmetic runs on doubles with an identical expression tree in both
    engines, so results are bit-equal. Single map-side-combined groupBy:
    the 100 TB cost is one scan + one tiny shuffle of 6 moments per group."""
    li = load(spark, sf_dir, "lineitem")
    x = _dec("l_quantity")
    y = _dec("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,4)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,4)")).cast("double").alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = F.try_divide(cov_n, var_x)
    return g.select(
        "l_returnflag", n.cast("bigint").alias("n_rows"),
        F.round(F.try_divide(cov_n, F.sqrt(var_x * var_y)), 6).alias("corr_qty_price"),
        F.round(slope, 6).alias("regr_slope"),
        F.round((sy - slope * sx) / n, 6).alias("regr_intercept"))


ORACLE_QTY_PRICE_CORR = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       ROUND((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS regr_slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS regr_intercept
FROM m
"""


def q_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 range join: per purchase event, how many clicks the same user
    made in the preceding hour — the temporal-interval sibling of the as-of
    join (J3). Equi key (user_id) + range predicate: Spark shuffles both
    sides on user only, evaluating the time band inside the join — no
    cross-product stage. At 100 TB pre-bucket events by user_id so this
    join (and every per-user window) is shuffle-free."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts"))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    cond = ((p.user_id == F.col("c_user"))
            & (F.col("c_ts") >= p.ts - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") < p.ts))
    return (p.join(c, cond, "left")
            .groupBy("event_id", "user_id", "ts")
            .agg(F.count("c_ts").alias("n_prior_clicks")))


ORACLE_CLICKS_BEFORE_PURCHASE = """
SELECT p.event_id, p.user_id, p.ts, COUNT(c.ts) AS n_prior_clicks
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
GROUP BY p.event_id, p.user_id, p.ts
"""


def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding time windows (1 h length, 15 min slide) per event type — the
    batch twin of the Structured Streaming windowed aggregation (§2.9):
    F.window() assigns each event to its 4 overlapping epoch-aligned
    windows via a row-local Expand (fan-out = length/slide), then one
    groupBy. The oracle reconstructs the same 4 windows arithmetically.
    Fan-out happens map-side before the shuffle, so at 100 TB the cost is
    4× map rows into a partial-aggregated exchange — no state, no sort."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "15 minutes")
    return (ev.groupBy(w.alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "n_users"))


ORACLE_SLIDING_WINDOWS = """
WITH e AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts)
           - k * INTERVAL '15 minutes' AS window_start,
         event_type, user_id
  FROM events
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
SELECT window_start, event_type,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM e GROUP BY window_start, event_type
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide numeric columns → long (metric, value) rows —
    the exact inverse of q_pivot_wide and the long-form storage step of
    the design stance (§7.1: store rankings long, pivot on export).
    df.unpivot is a row-local Expand (map-side fan-out, no shuffle); the
    one exchange is the final per-metric aggregation."""
    li = load(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric", valueColumnName="val")
    return (long.groupBy("l_returnflag", "metric")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("val").cast("decimal(18,2)")).cast("double")
                  .alias("sum_val")))


ORACLE_UNPIVOT_METRICS = """
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
SELECT l_returnflag, metric, COUNT(*) AS n,
       CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
FROM long GROUP BY l_returnflag, metric
"""


def q_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: every event carries the value of
    the user's most recent PURCHASE at that point in the stream — the
    step-function gap fill next to q_hourly_interpolate's linear one.
    F.last(ignorenulls) over a running frame pinned by (ts, event_id);
    one shuffle on user_id, and the fill value is copied, never computed,
    so the result is bit-exact on both engines."""
    ev = load(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "user_id", "event_id", "ts", "event_type",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"))


ORACLE_LOCF_FILL = """
SELECT user_id, event_id, ts, event_type,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_purchase_value
FROM events
"""


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the spark.sql() surface: top-2
    orders per customer — the per-group top-k (X3) expressed as SQL the
    way an analyst would write it. Catalyst decorrelates the LIMIT'd
    lateral into the same ranked-window plan as topk_per_group, so the
    SQL front door and the DataFrame API meet at one physical shape
    (one shuffle on the correlation key)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_lv")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_lv")
    return spark.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer_lv c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lv
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""")


ORACLE_LATERAL_TOPK = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


def q_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe top-k (X3 under a hot key): two-phase salted ranking
    (operators/windows.py:topk_per_group_salted) — phase one ranks within
    (key, row-hash salt) so a hot key spreads over 32 tasks, phase two
    ranks the surviving k x 32 rows per key. The salt only changes the
    physical distribution: for any total order the output is IDENTICAL to
    the single-window form, which is exactly what the oracle (plain
    row_number) checks. This is the mitigation the as-of/dedup skew cliff
    in SCALE.md prescribes, proven hash-equal through the gate."""
    from ..operators.windows import topk_per_group_salted
    orders = load(spark, sf_dir, "orders")
    out = topk_per_group_salted(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_cols=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=2, rank_col="rnk")
    return out.select("o_custkey", "o_orderkey", "o_totalprice", "rnk")


ORACLE_TOPK_SALTED = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) WHERE rnk <= 2
"""


def q_trailing_7d_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per user, the running 7-day trailing
    value sum — the value-range sibling of the ROWS-frame trailing mean
    (q_trailing_avg). The frame is defined on epoch seconds (integer, so
    both engines bound it identically); peers at the same second share a
    frame, which makes the result tie-stable without a tiebreak column.
    One shuffle on user_id; at 100 TB this rides the same user bucketing
    as every other per-user window."""
    ev = load(spark, sf_dir, "events")
    # events.ts is parquet timestamp[us] without tz -> TIMESTAMP_NTZ, which
    # unix_micros rejects; cast to the session timestamp type first (session
    # tz is UTC so the wall clock IS the epoch clock, matching DuckDB's
    # epoch_us on the same naive value)
    sec = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    w = (Window.partitionBy("user_id").orderBy(sec.alias("sec"))
         .rangeBetween(-7 * 86400, 0))
    return ev.select(
        "user_id", "event_id", "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w)
         .cast("double").alias("sum_7d"))


ORACLE_TRAILING_7D = """
SELECT user_id, event_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
                  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS sum_7d
FROM events
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history build: each per-user observation becomes a
    validity interval [valid_from, valid_to) closed by the next
    observation, open (NULL) on the current row — the dimension-history
    twin of keep-latest (A2), which keeps only the interval that never
    closed. One lead() window pinned by (ts, event_id); one shuffle on the
    key, and the history table stays one row per observation — no
    point-in-time self-join is ever needed to query it."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return ev.select(
        "user_id", "event_id", F.col("value").alias("observed_value"),
        F.col("ts").alias("valid_from"), valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"))


ORACLE_SCD2 = """
SELECT user_id, event_id, value AS observed_value,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user chronological event-type sequence as an array column — the
    sequence-building step of behavioral/training pipelines (and the
    collect_list/array aggregation surface). Determinism: collect_list has
    no order guarantee under partial aggregation, so elements are collected
    as (ts, event_id, type) structs and array_sort'ed row-locally — the
    unique (ts, event_id) prefix pins a total order on both engines. One
    shuffle on user_id; array width = per-user event count (bound it with
    a window top-N at 100 TB if users are unbounded). The sequence is
    emitted '|'-delimited (not as an array column) so the result is
    hashable by order-insensitive comparators."""
    ev = load(spark, sf_dir, "events")
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
        lambda x: x["event_type"])
    return (ev.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.array_join(seq, "|").alias("event_seq")))


ORACLE_USER_EVENT_SEQUENCES = """
SELECT user_id, COUNT(*) AS n_events,
       array_to_string(
         list_transform(list_sort(list(struct_pack(ts := ts, eid := event_id,
                                                   et := event_type))),
                        x -> x.et), '|') AS event_seq
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Subquery shapes (correlated scalar, uncorrelated scalar, NOT EXISTS,
# group-HAVING semi-join, conditional-aggregation ratio). The reference has
# no subqueries, but its dedup-upsert is an anti-join in disguise (SURVEY.md
# §2.3) — these queries expose the full subquery surface Catalyst decorrelates
# into joins, so users get the declarative forms, not hand-built rewrites.
# ---------------------------------------------------------------------------

def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load(spark, sf_dir, n).createOrReplaceTempView(n)


def q_brand_max_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q2 shape on the reduced schema):
    parts priced at their brand's maximum. Catalyst decorrelates the
    subquery into an aggregate + join (RewriteCorrelatedScalarSubquery) —
    the plan is a broadcast join against a per-brand max, not a per-row
    re-scan, so it scales as one pass + one small-side join at 100 TB.
    Doubles compare for equality only against a MAX drawn from the same
    column, which is exact in both engines."""
    _views(spark, sf_dir, "part")
    return spark.sql("""
        SELECT p_partkey, p_brand, p_retailprice
        FROM part p
        WHERE p_retailprice = (SELECT MAX(p2.p_retailprice)
                               FROM part p2 WHERE p2.p_brand = p.p_brand)
    """)


ORACLE_BRAND_MAX_PRICE = """
SELECT p_partkey, p_brand, p_retailprice
FROM part p
WHERE p_retailprice = (SELECT MAX(p2.p_retailprice)
                       FROM part p2 WHERE p2.p_brand = p.p_brand)
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (TPC-H Q15 shape): supplier(s) with the
    maximum quarterly revenue. The per-supplier revenue aggregate is
    computed once, its single-row MAX is broadcast back against it, and
    equality on the decimal-exact-sum-cast-double revenue is deterministic
    because both sides come from the same computation. Two shuffles total
    (revenue groupBy, then nothing — both joins broadcast)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(8,2)")
                                      - _dec("l_discount", "8,2"))
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(disc).cast("double").alias("total_revenue")))
    max_rev = rev.agg(F.max("total_revenue").alias("max_rev"))
    sup = load(spark, sf_dir, "supplier")
    return (sup.join(rev, sup.s_suppkey == rev.l_suppkey)
            .join(F.broadcast(max_rev),
                  F.col("total_revenue") == F.col("max_rev"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


ORACLE_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-HAVING semi-join (TPC-H Q18 shape): orders whose total line
    quantity exceeds 300, joined back to customer. The HAVING aggregate is
    tiny after its filter (tens of rows per million orders), so AQE
    broadcasts it into the orders join — the plan is one lineitem shuffle
    plus broadcast joins, no sort-merge on the fact table."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
           .filter(F.col("sum_qty") > 300))
    return (orders.join(big, orders.o_orderkey == big.l_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "sum_qty")
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
            .limit(100))


ORACLE_BIG_ORDER_CUSTOMERS = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti-join under a scalar-subquery predicate (TPC-H Q22
    shape): per market segment, customers above the positive-balance mean
    who never placed a high-value order. Catalyst turns the NOT EXISTS
    into a left-anti hash join and the scalar average into a broadcast —
    one pass over each table. The mean is sum(decimal)::double / count,
    exact in both engines."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql("""
        SELECT c_mktsegment, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                           FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000.0)
        GROUP BY c_mktsegment
    """)


ORACLE_DORMANT_HIGH_BALANCE = """
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000.0)
GROUP BY c_mktsegment
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation ratio (TPC-H Q14 shape): share of quarterly
    revenue from PROMO-type parts. One fact-dim join (part auto-broadcasts
    under the 64m threshold; falls back to shuffle join at 100 TB where
    part is ~1/7 of lineitem) and one global aggregate. Numerator and
    denominator are exact decimal sums; the final division is one double
    op on identical inputs, so the share is bit-stable."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    part = load(spark, sf_dir, "part")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(8,2)")
                                      - _dec("l_discount", "8,2"))
    zero = F.lit(0).cast("decimal(28,4)")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero))
         .cast("double").alias("promo_revenue"),
        F.sum(disc).cast("double").alias("total_revenue"))
    return agg.select(
        "promo_revenue", "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"))
        .alias("promo_share"))


ORACLE_PROMO_REVENUE_SHARE = """
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))
             ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) AS promo_revenue,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00')
SELECT promo_revenue, total_revenue,
       100.0 * promo_revenue / total_revenue AS promo_share
FROM agg
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation: per-group mean of prices inside the exact
    [p5, p95] band — the outlier-resistant statistic feature pipelines use
    where plain AVG is skew-fragile. Two passes over the group: exact
    percentile bounds (one shuffle), broadcast back, then a decimal-exact
    mean of the surviving rows. Cross-engine safety: when an interpolated
    bound differs in the last ulp between engines it still lies strictly
    between two adjacent 2-decimal data values, so the band membership —
    and therefore the result — is identical. Scale note: exact percentile
    buffers whole groups; q_trimmed_mean_binned is the checked 100 TB
    twin — the SAME exact result from two-pass bucket-narrowed selection
    (bounded driver reads, no whole-group buffer), hash-matched against
    this entry's oracle. approx_percentile remains the one-pass sketch
    option where rank error is acceptable."""
    li = load(spark, sf_dir, "lineitem")
    # both quantiles from ONE sorted-array buffer (sorted_group_vals /
    # percentile_from_sorted — Percentile's exact arithmetic, bounds
    # hex-compared identical at all three SFs): replaces the percentile()
    # map-buffer aggregate, whose per-group value->count OpenHashMap
    # build/merge/key-sort measured 1.02 s vs 0.57 s for the same bounds
    # at sf0.1 (it also subsumes the array form over separate
    # aggregates, 1.85x, and double keys over BigDecimal, ~1.2x). Double cast
    # stays monotone; the interpolation converts via the same toDouble
    # Percentile uses.
    bounds = (li.groupBy("l_returnflag")
              .agg(sorted_group_vals(F.col("l_extendedprice")).alias("a"))
              .select("l_returnflag",
                      percentile_from_sorted("a", 0.05).alias("lo"),
                      percentile_from_sorted("a", 0.95).alias("hi")))
    kept = (li.join(F.broadcast(bounds), "l_returnflag")
            .filter(F.col("l_extendedprice").between(F.col("lo"), F.col("hi"))))
    return (kept.groupBy("l_returnflag")
            .agg(F.count("*").alias("n_kept"),
                 (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*"))
                 .alias("trimmed_avg_price")))


ORACLE_TRIMMED_MEAN = """
WITH b AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag)
SELECT l.l_returnflag, COUNT(*) AS n_kept,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS trimmed_avg_price
FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
WHERE l_extendedprice BETWEEN lo AND hi
GROUP BY l.l_returnflag
"""


TRIM_BUCKET_W = 100_000       # $1,000 buckets in cents (q_exact_quantiles')


def q_trimmed_mean_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_trimmed_mean's 100 TB-EXACT twin (the revenue_gini_binned move,
    applied to order statistics): same [p5, p95]-band mean, same oracle,
    but the interpolated percentile bounds come from the two-pass
    distributed selection of q_exact_quantiles_twopass run PER GROUP —
    no `percentile()` buffer holding a whole group in one aggregator.

    Pass 1 histograms integer cents into $1,000 buckets per group
    (map-side combine; driver reads |groups| x ~100 bounded rows). The
    driver converts each percentile to Spark's rank convention
    (pos = p*(n-1), lower = floor+1, upper = lower+1, frac = pos-floor)
    and locates the bucket + residual rank of each needed order
    statistic. Pass 2 counts per distinct value inside targeted buckets
    only and a per-(group, bucket) cumulative window finds each exact
    value; the driver interpolates lo/hi with the same
    `lower + (upper - lower) * frac` double arithmetic Spark's
    percentile() uses, so the bound is bit-identical whenever frac = 0
    and lies strictly between adjacent 2-decimal data values otherwise —
    either way band membership (and so the result) matches the plain
    entry exactly. Final pass: broadcast the |groups|-row bound table,
    decimal-exact mean of surviving rows (shared with q_trimmed_mean).

    Driver reads are bounded (histogram ~|groups| x value_range/width,
    bound values <= |groups| x 4); every data-proportional stage is a
    map-side-combined aggregate or a row-local filter."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice",
        cents("l_extendedprice").alias("c"))
    li = li.withColumn("b", F.expr(f"c div {TRIM_BUCKET_W}"))

    # pass 1: bounded per-group bucket histogram -> driver
    hist: dict[str, list] = {}
    for r in (li.groupBy("l_returnflag", "b")
              .agg(F.count("*").alias("cnt")).collect()):
        hist.setdefault(r["l_returnflag"], []).append((r["b"], r["cnt"]))
    targets = []        # (flag, which, rank, bucket, residual)
    franks: dict[str, dict] = {}   # flag -> which -> (rank_lo, rank_up, frac)
    for flag, buckets in hist.items():
        buckets.sort()
        n = sum(cnt for _, cnt in buckets)
        franks[flag] = {}
        for which, p in (("lo", 0.05), ("hi", 0.95)):
            pos = p * (n - 1)
            k_lo = int(pos) + 1                    # 1-based lower rank
            frac = pos - int(pos)
            k_up = k_lo + 1 if frac > 0 else k_lo
            k_up = min(k_up, n)
            franks[flag][which] = (k_lo, k_up, frac)
            for k in {k_lo, k_up}:
                cum = 0
                for b, cnt in buckets:
                    if cum + cnt >= k:
                        targets.append((flag, which, k, b, k - cum))
                        break
                    cum += cnt
    tdf = local_df(
        spark, targets, "l_returnflag string, which string, k bigint, "
                        "b bigint, rk bigint")

    # pass 2: exact order statistics inside targeted buckets only
    tb = {(t[0], t[3]) for t in targets}
    in_target = F.lit(False)
    for f, b in sorted(tb):      # <= |groups| x 4 terms — a codegen OR chain
        in_target = in_target | ((F.col("l_returnflag") == f)
                                 & (F.col("b") == b))
    vc = (li.filter(in_target)
          .groupBy("l_returnflag", "b", "c")
          .agg(F.count("*").alias("cnt")))
    wb = (Window.partitionBy("l_returnflag", "b").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    vcc = vc.withColumn("cum", F.sum("cnt").over(wb))
    kv = {(r["l_returnflag"], r["which"], r["k"]): r["c"]
          for r in (vcc.join(tdf, ["l_returnflag", "b"])
                    .filter((F.col("cum") >= F.col("rk")) &
                            (F.col("cum") - F.col("cnt") < F.col("rk")))
                    .select("l_returnflag", "which", "k", "c").collect())}

    # driver: Spark percentile()'s interpolation, on the data doubles
    brows = []
    for flag, d in franks.items():
        bounds = {}
        for which, (k_lo, k_up, frac) in d.items():
            v_lo = kv[(flag, which, k_lo)] / 100.0
            v_up = kv[(flag, which, k_up)] / 100.0
            bounds[which] = v_lo + (v_up - v_lo) * frac
        brows.append((flag, bounds["lo"], bounds["hi"]))
    bdf = local_df(
        spark, brows, "l_returnflag string, lo double, hi double")

    kept = (li.join(F.broadcast(bdf), "l_returnflag")
            .filter(F.col("l_extendedprice")
                    .between(F.col("lo"), F.col("hi"))))
    return (kept.groupBy("l_returnflag")
            .agg(F.count("*").alias("n_kept"),
                 (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*"))
                 .alias("trimmed_avg_price")))


DRIFT_SPLIT_TS = "2024-01-16"
DRIFT_BIN_W = 50.0
DRIFT_BINS = 10


def q_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset drift audit: per event type, the total-variation distance
    between the value distribution before and after a split date, over
    fixed-width bins — the train/serve distribution-shift check every
    ML-ops pipeline runs. TVD instead of PSI/KL deliberately: it needs no
    logarithm, so the whole metric is exact integer arithmetic (bin
    shares in ppm via integer division; TVD = half the L1 distance) —
    bit-identical across engines, where ln() differs in the last ulp.
    One scan, one (type, bin) count, one tiny rollup; at 100 TB the bin
    table is |types| x |bins| rows regardless of data volume."""
    ev = load(spark, sf_dir, "events")
    b = F.least(F.floor(F.col("value") / DRIFT_BIN_W).cast("int"),
                F.lit(DRIFT_BINS - 1))
    side = (F.col("ts") < F.lit(DRIFT_SPLIT_TS).cast("timestamp_ntz")) \
        .cast("int")
    binned = (ev.select("event_type", b.alias("bin"), side.alias("before"))
              .groupBy("event_type", "bin")
              .agg(F.sum("before").alias("nb"),
                   F.sum(1 - F.col("before")).alias("na")))
    wt = Window.partitionBy("event_type")
    # integer div, NOT double-divide-then-cast: a double quotient can land
    # one ulp below an exact integer ratio and truncate differently than
    # DuckDB's // on the same integers
    shares = (binned
              .withColumn("tb", F.sum("nb").over(wt))
              .withColumn("ta", F.sum("na").over(wt))
              .select("event_type", "bin",
                      F.expr("nb * 1000000 div tb").alias("p_ppm"),
                      F.expr("na * 1000000 div ta").alias("q_ppm")))
    return (shares.groupBy("event_type")
            .agg(F.count("*").alias("n_bins"),
                 F.expr("sum(abs(p_ppm - q_ppm)) div 2").alias("tvd_ppm")))


ORACLE_DRIFT_TVD = f"""
WITH binned AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / {DRIFT_BIN_W}) AS INT), {DRIFT_BINS - 1})
           AS bin,
         SUM(CASE WHEN ts < TIMESTAMP '{DRIFT_SPLIT_TS}' THEN 1 ELSE 0 END)
           AS nb,
         SUM(CASE WHEN ts < TIMESTAMP '{DRIFT_SPLIT_TS}' THEN 0 ELSE 1 END)
           AS na
  FROM events GROUP BY 1, 2),
shares AS (
  SELECT event_type, bin,
         CAST(nb * 1000000 // SUM(nb) OVER (PARTITION BY event_type)
              AS BIGINT) AS p_ppm,
         CAST(na * 1000000 // SUM(na) OVER (PARTITION BY event_type)
              AS BIGINT) AS q_ppm
  FROM binned)
SELECT event_type, COUNT(*) AS n_bins,
       CAST(SUM(ABS(p_ppm - q_ppm)) // 2 AS BIGINT) AS tvd_ppm
FROM shares GROUP BY event_type
"""


ASOF_TOLERANCE_S = 3600


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 with max-staleness: each purchase gets the newest same-user click
    value from the PRECEDING HOUR, NULL when the newest click is staler —
    pandas merge_asof(tolerance=...) semantics via the zero-join
    union+window shape (operators/joins.py:asof_join_tolerance). The
    tolerance gate is a projection subtraction on the matched timestamp
    carried through the same window — no range join, one shuffle on the
    key, the shape that survives 100 TB. Ties on the right timestamp are
    pinned by event_id (greatest wins, matching the oracle's ORDER BY ts
    DESC, event_id DESC LIMIT 1)."""
    from ..operators.joins import asof_join_tolerance
    ev = load(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id", "value"))
    out = asof_join_tolerance(
        purchases, clicks, key_cols=["user_id"],
        left_ts="ts", right_ts="ts", value_cols=["value"],
        tolerance_s=ASOF_TOLERANCE_S, tiebreak_cols=["event_id"])
    return out.select("user_id", "event_id", "ts",
                      F.col("value_asof").alias("click_value"))


ORACLE_ASOF_TOLERANCE = f"""
SELECT p.user_id, p.event_id, p.ts,
       (SELECT c.value FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL {ASOF_TOLERANCE_S} SECOND
        ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_value
FROM events p WHERE p.event_type = 'purchase'
"""


WINSOR_P = (0.01, 0.99)


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean: values outside the per-group [p1, p99]
    order statistics are CLIPPED to the bound (not dropped — the
    winsorize/trim distinction), then decimal-exact averaged. Unlike the
    trim (q_trimmed_mean), the bound VALUE enters the sum, so an
    interpolated percentile differing in the last ulp between engines
    would corrupt the hash; the bounds are therefore explicit order
    statistics — the value at row floor((n-1)*p)+1 of the sorted group,
    computed with row_number in BOTH engines (builtin percentile_disc
    definitions differ across engines at fractional ranks: Spark picks
    ceil(n*p), DuckDB floor((n-1)*p)+1 — divergent e.g. at n=3, p=0.4).
    Every clipped value is then a real 2-decimal data value and the sum
    is exact. Two shuffles (rank window, final agg); the bound frame
    broadcasts."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag", "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"))
    lo_i = F.floor((F.col("n") - 1) * F.lit(WINSOR_P[0])) + 1
    hi_i = F.floor((F.col("n") - 1) * F.lit(WINSOR_P[1])) + 1
    bounds = (ranked
              .groupBy("l_returnflag")
              .agg(F.max(F.when(F.col("rn") == lo_i,
                                F.col("l_extendedprice"))).alias("lo"),
                   F.max(F.when(F.col("rn") == hi_i,
                                F.col("l_extendedprice"))).alias("hi")))
    clipped = (li.join(F.broadcast(bounds), "l_returnflag")
               .select("l_returnflag", "lo", "hi",
                       F.least(F.greatest("l_extendedprice", F.col("lo")),
                               F.col("hi")).alias("v")))
    return (clipped.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.min("lo").alias("p01"), F.min("hi").alias("p99"),
                 (F.sum(F.col("v").cast("decimal(18,2)")).cast("double")
                  / F.count("*")).alias("winsorized_avg")))


ORACLE_WINSORIZED = f"""
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem),
b AS (
  SELECT l_returnflag,
         MAX(CASE WHEN rn = FLOOR((n - 1) * {WINSOR_P[0]}) + 1
                  THEN l_extendedprice END) AS lo,
         MAX(CASE WHEN rn = FLOOR((n - 1) * {WINSOR_P[1]}) + 1
                  THEN l_extendedprice END) AS hi
  FROM ranked GROUP BY l_returnflag)
SELECT l.l_returnflag, COUNT(*) AS n,
       MIN(lo) AS p01, MIN(hi) AS p99,
       CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, lo), hi)
                     AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS winsorized_avg
FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-active week, then
    counted per (cohort week, weeks-since-cohort) activity cell — the
    product-analytics standard for "do users come back". Pure
    integer/date arithmetic (week truncation, day diffs div 7, distinct
    counts), so the matrix is exact on both engines. Two shuffles: the
    per-user minimum and the cell distinct-count; both partial-aggregate
    map-side."""
    ev = load(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (weeks.join(cohort, "user_id")
            .select("user_id", "cohort_week",
                    (F.datediff("week", "cohort_week") / 7).cast("int")
                    .alias("weeks_since"))
            .groupBy("cohort_week", "weeks_since")
            .agg(F.countDistinct("user_id").alias("n_active_users"))
            .orderBy("cohort_week", "weeks_since")
            .withColumn("cohort_week",
                        F.date_format("cohort_week", "yyyy-MM-dd")))


ORACLE_COHORT_RETENTION = """
WITH weeks AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events),
cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER) AS weeks_since,
       COUNT(DISTINCT weeks.user_id) AS n_active_users
FROM weeks JOIN cohort ON weeks.user_id = cohort.user_id
GROUP BY cohort_week, weeks_since
ORDER BY cohort_week, weeks_since
"""


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): how far each
    user progresses through the funnel respecting event ORDER — sequence
    pattern matching, the capability MATCH_RECOGNIZE engines sell,
    expressed as a row-local state-machine fold over the user's
    chronologically sorted event-step array (same ordered-fold discipline
    as unigram_logprob, here over ints so it's exact by construction).
    The funnel is scoped per (user, day) — the conversion window — so the
    stage histogram differentiates; one shuffle on the composite key,
    state is one int per cell."""
    ev = load(spark, sf_dir, "events")
    stage = F.expr("""
        aggregate(
          transform(array_sort(collect_list(struct(ts, event_id, event_type))),
                    s -> CASE s.event_type WHEN 'view' THEN 1
                         WHEN 'click' THEN 2 WHEN 'purchase' THEN 3
                         ELSE 0 END),
          0, (a, b) -> CASE WHEN b = a + 1 THEN a + 1 ELSE a END)
    """)
    per_cell = (ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
                .agg(stage.alias("funnel_stage")))
    return (per_cell.groupBy("funnel_stage")
            .agg(F.count("*").alias("n_user_days"))
            .orderBy("funnel_stage"))


ORACLE_FUNNEL_STAGES = """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS i,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 ELSE 0 END AS st
  FROM events),
cells AS (SELECT DISTINCT user_id, day FROM e),
v AS (SELECT user_id, day, MIN(i) AS vi FROM e WHERE st = 1 GROUP BY 1, 2),
c AS (SELECT e.user_id, e.day, MIN(e.i) AS ci
      FROM e JOIN v ON e.user_id = v.user_id AND e.day = v.day
      WHERE e.st = 2 AND e.i > v.vi GROUP BY 1, 2),
p AS (SELECT e.user_id, e.day, MIN(e.i) AS pi
      FROM e JOIN c ON e.user_id = c.user_id AND e.day = c.day
      WHERE e.st = 3 AND e.i > c.ci GROUP BY 1, 2),
s AS (
  SELECT cells.user_id, cells.day,
         CASE WHEN pi IS NOT NULL THEN 3 WHEN ci IS NOT NULL THEN 2
              WHEN vi IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage
  FROM cells
  LEFT JOIN v ON cells.user_id = v.user_id AND cells.day = v.day
  LEFT JOIN c ON cells.user_id = c.user_id AND cells.day = c.day
  LEFT JOIN p ON cells.user_id = p.user_id AND cells.day = p.day)
SELECT funnel_stage, COUNT(*) AS n_user_days
FROM s GROUP BY funnel_stage ORDER BY funnel_stage
"""


def q_trailing_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median over a moving 5-row frame per user — the robust sibling
    of the trailing mean, and a window surface Spark has no builtin for
    (percentile doesn't window): collect the frame into an array, sort it
    row-locally, and select/average the middle order statistics with
    integer arithmetic. The midpoint average is computed as lo+(hi-lo)/2 to
    match quantile_cont's interpolation formula bit-for-bit. Same single
    shuffle as every per-user window; the frame array is O(5)."""
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, 0))
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    return ev.select(
        "user_id", "event_id", "ts", "value",
        F.round(lo + (hi - lo) / 2, 6).alias("trailing_median"))


ORACLE_TRAILING_MEDIAN = """
SELECT user_id, event_id, ts, value,
       ROUND(quantile_cont(value, 0.5) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS trailing_median
FROM events
"""


def q_behavior_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra surface: per-user event-type sets for the first vs
    second half of January, compared with array_intersect/union — the
    behavioral-drift Jaccard every retention pipeline computes. Sets are
    collect_set (order-free), and only SIZES and the ratio are emitted, so
    cross-engine array ordering can't leak into the hash. One shuffle on
    user_id; the half-month split is a row-local flag aggregated twice in
    the same pass (conditional collect_set), not two scans."""
    ev = load(spark, sf_dir, "events")
    mid = F.lit("2024-01-16").cast("timestamp")
    h1 = F.when(F.col("ts") < mid, F.col("event_type"))
    h2 = F.when(F.col("ts") >= mid, F.col("event_type"))
    per_user = ev.groupBy("user_id").agg(
        F.collect_set(h1).alias("s1"), F.collect_set(h2).alias("s2"))
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.size(F.array_union("s1", "s2"))
    return (per_user.select(
        "user_id", F.size("s1").alias("n_types_h1"),
        F.size("s2").alias("n_types_h2"),
        inter.alias("n_common"),
        F.when(union > 0, inter.cast("double") / union)
         .otherwise(F.lit(None)).alias("jaccard"))
        .filter((F.col("n_types_h1") > 0) & (F.col("n_types_h2") > 0)))


ORACLE_BEHAVIOR_SET_OVERLAP = """
WITH per_user AS (
  SELECT user_id,
         list_distinct(list(event_type) FILTER (ts <  TIMESTAMP '2024-01-16 00:00:00')) AS s1,
         list_distinct(list(event_type) FILTER (ts >= TIMESTAMP '2024-01-16 00:00:00')) AS s2
  FROM events GROUP BY user_id)
SELECT user_id, len(s1) AS n_types_h1, len(s2) AS n_types_h2,
       len(list_intersect(s1, s2)) AS n_common,
       CASE WHEN len(list_distinct(s1 || s2)) > 0
            THEN CAST(len(list_intersect(s1, s2)) AS DOUBLE)
                 / len(list_distinct(s1 || s2)) END AS jaccard
FROM per_user
WHERE len(s1) > 0 AND len(s2) > 0
"""


def q_monthly_rank_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining ranking-window surface in one report: per order priority,
    monthly revenue with DENSE_RANK (revenue ties share a rank),
    FIRST_VALUE (the opening month's revenue so far) and NTH_VALUE(2) (the
    runner-up month under chronological order). Frames are the default
    RANGE UNBOUNDED PRECEDING..CURRENT ROW in both engines, ordered by the
    unique month-per-priority key, so every value is pinned. One shuffle
    for the monthly rollup; the windows reuse its partitioning."""
    orders = load(spark, sf_dir, "orders")
    monthly = (orders.groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"))
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("revenue")))
    w_time = Window.partitionBy("o_orderpriority").orderBy("month")
    w_rank = Window.partitionBy("o_orderpriority").orderBy(
        F.col("revenue").desc(), "month")
    return (monthly.select(
        "o_orderpriority", "month", "revenue",
        F.dense_rank().over(w_rank).alias("rev_rank"),
        F.first_value(F.col("revenue")).over(w_time).alias("opening_rev"),
        F.nth_value(F.col("revenue"), 2).over(w_time).alias("second_rev"))
        .withColumn("month", F.date_format("month", "yyyy-MM-dd")))


ORACLE_MONTHLY_RANK_REPORT = """
WITH monthly AS (
  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2)
SELECT o_orderpriority, strftime(month, '%Y-%m-%d') AS month, revenue,
       DENSE_RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY revenue DESC, month) AS rev_rank,
       FIRST_VALUE(revenue) OVER w AS opening_rev,
       NTH_VALUE(revenue, 2) OVER w AS second_rev
FROM monthly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
"""


def q_corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input audit: PERMISSIVE JSON parsing with per-type
    valid/corrupt accounting — the ingest-quality report every pipeline
    fronting dirty feeds needs (the reference's type-repair engine,
    s3_client.py:45-100, is the column-level sibling). The corpus's props
    are all well-formed, so ~13% are deterministically mangled first
    (truncation or leading garbage keyed on event_id); the audit then
    counts rows whose parse yielded no value. Row-local parse + one tiny
    groupBy — scan-speed at 100 TB, and corrupt rows are quarantined by a
    filter on the same predicate, not a separate pass."""
    ev = load(spark, sf_dir, "events")
    mangled = (F.when(F.col("event_id") % 13 == 0,
                      F.expr("substring(props, 1, length(props) - 2)"))
               # leading garbage, not trailing: Spark's Jackson parser
               # accepts a complete JSON value with trailing junk, DuckDB
               # doesn't — leading junk is corrupt in BOTH engines
               .when(F.col("event_id") % 17 == 0,
                     F.concat(F.lit("x"), F.col("props")))
               .otherwise(F.col("props")))
    k = F.from_json(mangled, "k bigint")["k"]
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.count("k").alias("n_valid"),
                 (F.count("*") - F.count("k")).alias("n_corrupt"),
                 F.sum("k").alias("sum_k")))


ORACLE_CORRUPT_RECORD_AUDIT = """
WITH m AS (
  SELECT event_type,
         CASE WHEN event_id % 13 = 0 THEN substring(props, 1, length(props) - 2)
              WHEN event_id % 17 = 0 THEN 'x' || props
              ELSE props END AS mp
  FROM events),
p AS (
  SELECT event_type,
         CASE WHEN json_valid(mp)
              THEN json_extract_string(mp, '$.k')::BIGINT END AS k
  FROM m)
SELECT event_type, COUNT(*) AS n_events, COUNT(k) AS n_valid,
       COUNT(*) - COUNT(k) AS n_corrupt, CAST(SUM(k) AS BIGINT) AS sum_k
FROM p GROUP BY event_type
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter-aggregate (TPC-H Q6 shape): the what-if revenue delta
    from discounted small orders in one year. No join, no groupBy key —
    one scan with every predicate pushed to parquet row groups, one
    map-side partial sum, one single-row exchange. The 100 TB cost is the
    scan alone; the discount band prunes via row-group min/max stats."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return li.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount", "8,2"))
         .cast("double").alias("revenue"),
        F.count("*").alias("n_lines"))


ORACLE_FORECAST_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): revenue lost to returns
    per customer in a quarter, with nation context, top 20. One fact-fact
    equi-join (lineitem-orders) — the quarter filter shrinks orders enough
    that AQE broadcasts it at test scale and falls back to sort-merge at
    100 TB — plus broadcast dims; top-20 runs as TakeOrderedAndProject
    (per-partition heaps), never a global sort."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    revenue = F.sum(_dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(8,2)") - _dec("l_discount", "8,2")))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(revenue.cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "c_custkey")
            .limit(20))


ORACLE_RETURNED_ITEM_CUSTOMERS = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_record_expand_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.8) as a catalog query: season-record strings
    (synthesized deterministically from customer keys) expand through the
    ExpandRecord table function via SQL LATERAL — one input row to a
    computed number of output rows, the flattener shape `explode` can't
    express. Hash-checked: the expansion is re-derived in the oracle with
    unnest over the same arithmetic. The UDTF runs row-local inside the
    scan stage; the only shuffle is the 3-group aggregate."""
    from ..functions.udtfs import ExpandRecord
    spark.udtf.register("expand_record", ExpandRecord)
    cust = load(spark, sf_dir, "customer")
    recs = cust.select(
        "c_custkey",
        F.concat_ws("-", (F.col("c_custkey") % 10).cast("string"),
                    (F.col("c_custkey") % 7).cast("string"),
                    (F.col("c_custkey") % 3).cast("string")).alias("record"))
    recs.createOrReplaceTempView("season_records")
    return spark.sql("""
        SELECT r.outcome, COUNT(*) AS n_teams, SUM(r.n) AS total
        FROM season_records, LATERAL expand_record(record) AS r
        GROUP BY r.outcome
    """)


ORACLE_RECORD_EXPAND_UDTF = """
WITH recs AS (
  SELECT c_custkey, c_custkey % 10 AS w, c_custkey % 7 AS l,
         c_custkey % 3 AS t
  FROM customer),
expanded AS (
  SELECT unnest(list_filter([struct_pack(outcome := 'win', n := w),
                             struct_pack(outcome := 'loss', n := l),
                             struct_pack(outcome := 'tie', n := t)],
                            x -> x.n > 0)) AS r
  FROM recs)
SELECT r.outcome AS outcome, COUNT(*) AS n_teams,
       CAST(SUM(r.n) AS BIGINT) AS total
FROM expanded GROUP BY r.outcome
"""


def q_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join — the one join type the
    catalog didn't yet exercise: per-customer January vs February order
    spend, classified into both/only-January/only-February with exact
    spend totals per class. Per-customer spends stay DECIMAL through the
    join and the final sum (cast to double only at the end), so
    cross-partition addition order can't perturb the result. Both sides
    aggregate before joining, so the full-outer join runs on the small
    per-customer frames, not the fact table."""
    orders = load(spark, sf_dir, "orders")

    def month_spend(m: int, tag: str) -> DataFrame:
        return (orders.filter(
            (F.col("o_orderdate") >= F.lit(f"1997-{m:02d}-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"1997-{m + 1:02d}-01").cast("timestamp")))
            .groupBy("o_custkey")
            .agg(F.sum(_dec("o_totalprice")).alias(f"spend_{tag}"),
                 F.count("*").alias(f"n_{tag}")))

    jan, feb = month_spend(1, "jan"), month_spend(2, "feb")
    j = jan.join(feb, "o_custkey", "outer")
    status = (F.when(F.col("n_jan").isNotNull() & F.col("n_feb").isNotNull(), "both")
              .when(F.col("n_jan").isNotNull(), "only_jan")
              .otherwise("only_feb"))
    zero = F.lit(0).cast("decimal(18,2)")
    return (j.select(status.alias("status"),
                     F.coalesce("spend_jan", zero).alias("sj"),
                     F.coalesce("spend_feb", zero).alias("sf"))
            .groupBy("status")
            .agg(F.count("*").alias("n_customers"),
                 F.sum("sj").cast("double").alias("jan_spend"),
                 F.sum("sf").cast("double").alias("feb_spend")))


ORACLE_FULL_OUTER_RECONCILE = """
WITH jan AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_jan,
         COUNT(*) AS n_jan
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-02-01 00:00:00'
  GROUP BY o_custkey),
feb AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_feb,
         COUNT(*) AS n_feb
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-02-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-03-01 00:00:00'
  GROUP BY o_custkey),
j AS (
  SELECT CASE WHEN n_jan IS NOT NULL AND n_feb IS NOT NULL THEN 'both'
              WHEN n_jan IS NOT NULL THEN 'only_jan'
              ELSE 'only_feb' END AS status,
         COALESCE(spend_jan, CAST(0 AS DECIMAL(18,2))) AS sj,
         COALESCE(spend_feb, CAST(0 AS DECIMAL(18,2))) AS sf
  FROM jan FULL OUTER JOIN feb USING (o_custkey))
SELECT status, COUNT(*) AS n_customers,
       CAST(SUM(sj) AS DOUBLE) AS jan_spend,
       CAST(SUM(sf) AS DOUBLE) AS feb_spend
FROM j GROUP BY status
"""


def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling — the hash-checkable sibling of the
    rows-only zscore entry: (v - min) / (max - min) needs only exact MIN/MAX
    aggregates and row-local double arithmetic, so both engines produce
    bit-identical scaled values with no rounding slack. One shuffle
    (window on event_type); at 100 TB this is the same one-pass
    window-standardization shape as every per-group feature transform."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    scaled = F.when(hi != lo, (F.col("value") - lo) / (hi - lo))
    return ev.select("event_id", "event_type", "value",
                     scaled.alias("scaled_value"))


ORACLE_MINMAX_SCALE = """
SELECT event_id, event_type, value,
       CASE WHEN MAX(value) OVER w <> MIN(value) OVER w
            THEN (value - MIN(value) OVER w)
                 / (MAX(value) OVER w - MIN(value) OVER w)
       END AS scaled_value
FROM events
WINDOW w AS (PARTITION BY event_type)
"""


# ---------------------------------------------------------------------------
# Sole-late-shipper audit (TPC-H Q21 shape on the available columns)
# ---------------------------------------------------------------------------

LATE_SHIP_DAYS = 60
LATE_SHIP_TOPK = 20


def q_late_shipment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the *only* late shipper in a multi-supplier order
    (late = shipped > LATE_SHIP_DAYS after order date), top-20 by offense
    count — the TPC-H Q21 double-EXISTS shape, expressed as ONE keyed
    aggregation plus a same-key window census instead of correlated
    subqueries. A two-aggregation + self-join form gave the
    per-(order, supplier) frame TWO consumers, and branch-specific
    pruning de-canonicalized the subtrees so the whole lineitem⋈orders +
    groupBy DAG executed twice (plan audit: 5 exchanges, duplicated
    subtree). Instead: repartition by l_orderkey ONCE — the
    (l_orderkey, l_suppkey) aggregation, the per-order n_supp/n_late
    census (count/sum windows over the same key), and the only-late-
    supplier filter all reuse that partitioning — then one groupBy per
    supplier. 2 exchanges, single linear subtree; measured 1.99 s ->
    0.98 s at sf0.1 with an identical top-20. The supplier dim stays
    broadcast. Deterministic top-k: (numwait DESC, s_suppkey) is a total
    order."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supplier = load(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {LATE_SHIP_DAYS} DAYS")
    flags = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .select("l_orderkey", "l_suppkey", late.cast("int").alias("is_late")))
    per_os = (flags.repartition(F.col("l_orderkey"))
              .groupBy("l_orderkey", "l_suppkey")
              .agg(F.max("is_late").alias("late")))
    w = Window.partitionBy("l_orderkey")
    waiting = (per_os
               .withColumn("n_supp", F.count("*").over(w))
               .withColumn("n_late", F.sum("late").over(w))
               .filter((F.col("late") == 1) & (F.col("n_supp") > 1)
                       & (F.col("n_late") == 1)))
    counts = waiting.groupBy("l_suppkey").agg(F.count("*").alias("numwait"))
    return (counts.join(F.broadcast(supplier),
                        counts.l_suppkey == supplier.s_suppkey)
            .select("s_suppkey", "s_name", "numwait")
            .orderBy(F.col("numwait").desc(), "s_suppkey")
            .limit(LATE_SHIP_TOPK))


ORACLE_LATE_SHIPMENT_AUDIT = f"""
WITH flags AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CAST(l.l_shipdate > o.o_orderdate + INTERVAL {LATE_SHIP_DAYS} DAY AS INT) AS is_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(is_late) AS late FROM flags GROUP BY 1, 2),
per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
  FROM per_os GROUP BY 1),
waiting AS (
  SELECT s.l_suppkey
  FROM per_os s JOIN per_order o USING (l_orderkey)
  WHERE s.late = 1 AND o.n_supp > 1 AND o.n_late = 1)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM waiting JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey
LIMIT {LATE_SHIP_TOPK}
"""


def q_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence (market-basket pair counts): for every
    unordered pair of event types, how many users performed both. The
    distinct (user, type) projection collapses the fact table before the
    self-join, so the join input is |users| x |types| at most; the join is
    equi-keyed on user_id with a type_a < type_b predicate halving the
    pair space. Output cardinality is |types| choose 2 — tiny at any data
    scale, so no ordering/limit is needed (and none is imposed: a total
    sort here would be pure waste)."""
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a, b = ut.alias("a"), ut.alias("b")
    return (a.join(b, (F.col("a.user_id") == F.col("b.user_id")) &
                   (F.col("a.event_type") < F.col("b.event_type")))
            .groupBy(F.col("a.event_type").alias("type_a"),
                     F.col("b.event_type").alias("type_b"))
            .agg(F.count("*").alias("n_users")))


ORACLE_EVENT_COOCCURRENCE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_users
FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Robust stats, sequence transitions, concentration, incremental maintenance
# ---------------------------------------------------------------------------

MAD_K = 3 * 1.4826            # sigma-equivalent MAD multiplier


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD (median
    absolute deviation) and the count of values beyond 3 sigma-equivalents
    (|x - med| > 3 * 1.4826 * MAD) — the robust twin of z-score filtering
    that a heavy-tailed metric needs. Three aggregations, but the per-type
    median tables are dimension-sized, so both re-joins broadcast; the
    fact table is scanned twice (exact medians don't compose). The 100 TB
    variant swaps ``percentile`` for ``approx_percentile`` and keeps the
    identical plan shape. Exact interpolated percentile matches DuckDB
    quantile_cont bit-for-bit (same doctrine as value_percentiles)."""
    ev = load(spark, sf_dir, "events")
    # both exact medians through the sorted-array kernel (bit-identical
    # to percentile(); see sorted_group_vals — measured ~2x on the
    # trimmed_mean bounds at sf0.1)
    med = (ev.groupBy("event_type")
           .agg(sorted_group_vals(F.col("value")).alias("a"))
           .select("event_type",
                   percentile_from_sorted("a", 0.5).alias("med")))
    j = ev.join(F.broadcast(med), "event_type")
    mad = (j.groupBy("event_type")
           .agg(sorted_group_vals(F.abs(F.col("value") - F.col("med")))
                .alias("a"))
           .select("event_type",
                   percentile_from_sorted("a", 0.5).alias("mad")))
    j2 = j.join(F.broadcast(mad), "event_type")
    is_out = (F.abs(F.col("value") - F.col("med"))
              > F.lit(MAD_K) * F.col("mad")).cast("int")
    return (j2.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.min("med"), 6).alias("median_value"),
                 F.round(F.min("mad"), 6).alias("mad"),
                 F.sum(is_out).alias("n_outliers")))


ORACLE_MAD_OUTLIERS = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
j AS (
  SELECT e.event_type, e.value, m.med
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
  FROM j GROUP BY 1),
j2 AS (SELECT j.event_type, j.value, j.med, mad.mad
       FROM j JOIN mad USING (event_type))
SELECT event_type, COUNT(*) AS n,
       ROUND(MIN(med), 6) AS median_value,
       ROUND(MIN(mad), 6) AS mad,
       CAST(SUM(CASE WHEN abs(value - med) > {MAD_K!r} * mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM j2 GROUP BY 1
"""


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event streams:
    (previous type -> current type) pairs via lag over the pinned
    (ts, event_id) order, one |types|^2-sized aggregate — the sequence
    model that complements the funnel query. One shuffle on user_id for
    the window; the transition aggregate collapses map-side."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select("user_id",
                      F.lag("event_type").over(w).alias("from_type"),
                      F.col("event_type").alias("to_type"))
            .filter(F.col("from_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count("*").alias("n_transitions")))


ORACLE_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events)
SELECT from_type, to_type, COUNT(*) AS n_transitions
FROM seq WHERE from_type IS NOT NULL
GROUP BY 1, 2
"""


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Gini coefficient) over per-customer spend:
    G = 2*sum(i * x_i)/(n * sum(x)) - (n+1)/n with x sorted ascending and
    the (rev, custkey) tiebreak pinning a total order. All sums are exact
    decimals (order-free), so the one global double expression at the end
    is deterministic. The ranking is a global sort — fine for a scalar
    audit over |customers| rows (already aggregated); the 100 TB form is
    q_revenue_gini_binned below (two-phase rank over quantile bins —
    CHECKED against this entry's exact oracle, same hash)."""
    orders = load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("rev"))
    w = Window.orderBy("rev", "o_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    tot = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("s"),
        F.sum(F.col("i") * F.col("rev")).alias("si"))
    n = F.col("n").cast("double")
    gini = (F.lit(2.0) * F.col("si").cast("double")
            / (n * F.col("s").cast("double"))
            - (n + F.lit(1.0)) / n)
    return tot.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("s").cast("double"), 2).alias("total_revenue"),
        F.round(gini, 6).alias("gini"))


ORACLE_REVENUE_GINI = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1),
ranked AS (
  SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i FROM rev),
tot AS (SELECT COUNT(*) AS n, SUM(rev) AS s, SUM(i * rev) AS si FROM ranked)
SELECT n AS n_customers,
       ROUND(CAST(s AS DOUBLE), 2) AS total_revenue,
       ROUND(2.0 * CAST(si AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM tot
"""


GINI_BINS = 64


def q_revenue_gini_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of q_revenue_gini — the SAME Gini value computed
    with no data-proportional global window. Two-phase rank over
    quantile bins (the q_rank_twophase pattern): (1) approxQuantile cut
    points over the per-customer revenue (bounded driver read:
    GINI_BINS-1 doubles; ANY monotone cuts are correct — bin placement
    never changes a row's global rank, quantile cuts merely balance the
    bins); (2) row-local searchsorted bin = #cuts strictly below rev, so
    revenue ties always share a bin and the (rev, o_custkey) tiebreak
    stays entirely within one bin; (3) per-bin counts -> starting
    offsets via a window over the ~GINI_BINS-row bin table; (4)
    broadcast the offsets back and rank WITHIN each bin
    (Window.partitionBy(bin) — parallel across bins, no partition ever
    holds the whole table); global i = offset + within-bin row_number.
    The aggregates (exact decimal s, exact si) and the closing G formula
    are identical to the plain entry's, and the oracle IS the plain
    entry's exact-rank SQL — hash equality proves the binned
    decomposition computes the identical permutation, not an
    approximation."""
    orders = load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("rev"))
    rev = rev.withColumn("revd", F.col("rev").cast("double"))
    probs = [i / GINI_BINS for i in range(1, GINI_BINS)]
    cuts = sorted(set(rev.stat.approxQuantile("revd", probs, 0.01)))

    # Bin = #cuts strictly below rev, as a BALANCED nested-when binary
    # search (O(log |cuts|) codegen comparisons on the one taken branch)
    # — NOT a Catalyst higher-order filter over the cut array, which
    # evaluates interpreted per element: the trap io.quantile_cells
    # documents (~9x at 600k rows / 64 cuts). Strict '<' keeps revenue ties in
    # one bin so the (rev, o_custkey) tiebreak stays within-bin.
    def _tree(lo: int, hi: int):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (F.when(F.lit(float(cuts[mid])) < F.col("revd"),
                       _tree(mid + 1, hi))
                .otherwise(_tree(lo, mid)))

    binned = rev.withColumn("b", _tree(0, len(cuts)))
    counts = binned.groupBy("b").agg(F.count("*").alias("cnt"))
    woff = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "b", F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off"))
    win = Window.partitionBy("b").orderBy("rev", "o_custkey")
    ranked = (binned.join(F.broadcast(offsets), "b")
              .withColumn("i", F.col("off") + F.row_number().over(win)))
    tot = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("s"),
        F.sum(F.col("i") * F.col("rev")).alias("si"))
    n = F.col("n").cast("double")
    gini = (F.lit(2.0) * F.col("si").cast("double")
            / (n * F.col("s").cast("double"))
            - (n + F.lit(1.0)) / n)
    return tot.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("s").cast("double"), 2).alias("total_revenue"),
        F.round(gini, 6).alias("gini"))


INCR_CUTOFF = "1999-01-01"


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the base partition (orders before
    the cutoff) and the delta batch (after) are aggregated INDEPENDENTLY
    into partial states (count, exact-decimal sum), then merged by
    re-aggregating the union of partials — the materialized-view update
    that never rescans the base at 100 TB (here both sides come from one
    table to stay oracle-checkable; the oracle recomputes from scratch and
    must hash-match, proving the merge is lossless). Works because count
    and decimal-sum are commutative monoids; avg derives at read time."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("pn"),
            F.sum(_dec("o_totalprice")).alias("ps"))

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (base.unionByName(delta)
              .groupBy("o_orderpriority")
              .agg(F.sum("pn").alias("n_orders"),
                   F.sum("ps").alias("sum_price")))
    return merged.select(
        "o_orderpriority", "n_orders",
        F.round(F.col("sum_price").cast("double"), 2).alias("total_price"),
        F.round(F.col("sum_price").cast("double") / F.col("n_orders"), 6)
        .alias("avg_price"))


ORACLE_INCREMENTAL_AGG = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_price,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 6) AS avg_price
FROM orders GROUP BY 1
"""


def q_sql_api_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL entry point: the same engine surface through
    spark.sql() over registered temp views — multi-CTE, dimension joins,
    exact-decimal aggregation, and a rank window, all parsed by Spark's
    SQL front end instead of assembled via the DataFrame DSL. Both paths
    lower to the same Catalyst plans (this query broadcast-joins the dims
    and keeps ONE shuffle, like its DSL siblings); the entry proves a SQL
    user of the reference could port their queries verbatim. Top-2
    customers per region by 1995 revenue."""
    for t in ("customer", "orders", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql("""
        WITH rev AS (
          SELECT c.c_custkey, c.c_name, n.n_regionkey,
                 SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
          FROM orders_v o
          JOIN customer_v c ON o.o_custkey = c.c_custkey
          JOIN nation_v n ON c.c_nationkey = n.n_nationkey
          WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
          GROUP BY 1, 2, 3),
        ranked AS (
          SELECT r.*, rg.r_name,
                 ROW_NUMBER() OVER (PARTITION BY rg.r_name
                                    ORDER BY r.r DESC, r.c_custkey) AS rnk
          FROM rev r JOIN region_v rg ON r.n_regionkey = rg.r_regionkey)
        SELECT r_name, rnk, c_custkey, c_name,
               ROUND(CAST(r AS DOUBLE), 2) AS revenue
        FROM ranked WHERE rnk <= 2
    """)


ORACLE_SQL_API = """
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_regionkey,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT rev.*, rg.r_name,
         ROW_NUMBER() OVER (PARTITION BY rg.r_name
                            ORDER BY rev.r DESC, rev.c_custkey) AS rnk
  FROM rev JOIN region rg ON rev.n_regionkey = rg.r_regionkey)
SELECT r_name, rnk, c_custkey, c_name,
       ROUND(CAST(r AS DOUBLE), 2) AS revenue
FROM ranked WHERE rnk <= 2
"""


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type: parse_json
    into the binary variant encoding once, then typed variant_get paths —
    the engine-native replacement for per-query string re-parsing
    (get_json_object re-tokenizes the JSON on EVERY extraction; variant
    parses once and extracts from the encoded form, the columnar
    semi-structured pattern shared with the lakehouse formats). Same
    extraction contract as q_json_extract, so the oracle is the same
    DuckDB json_extract_string — a hash match proves the variant path is a
    pure encoding change."""
    ev = load(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.countDistinct("k").alias("n_distinct_k")))


ORACLE_VARIANT_EXTRACT = """
WITH j AS (SELECT event_type,
                  json_extract_string(props, '$.k')::BIGINT AS k
           FROM events)
SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
       COUNT(DISTINCT k) AS n_distinct_k
FROM j GROUP BY 1
"""


def q_first_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford-style first-significant-digit profile of order totals — the
    digit-distribution audit fraud/data-quality pipelines run. The digit
    is extracted through integer/string ops (floor -> string -> first
    char), never float log10, so engines agree at power-of-ten boundaries.
    Row-local + one 9-group aggregate; the share uses a window total over
    the 9-row result."""
    orders = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1).cast("int")
    counts = (orders.select(digit.alias("digit"))
              .groupBy("digit").agg(F.count("*").alias("n")))
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "digit", "n",
        F.round(F.col("n") / total, 6).alias("share"))


ORACLE_FIRST_DIGIT = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS digit
  FROM orders),
c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1)
SELECT digit, n, ROUND(n / SUM(n) OVER (), 6) AS share FROM c
"""


# ---------------------------------------------------------------------------
# Data-quality audits: key skew, referential integrity
# ---------------------------------------------------------------------------

def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: per order-of-magnitude bucket of group size
    (1, 2-9, 10-99, ...), how many lineitem order keys land there and how
    many rows they carry — the audit run before keying a 100 TB shuffle,
    because one hot key in the top bucket is what AQE skew-split (or
    salting) must absorb. Two aggregations: per-key counts (map-side
    heavy), then a handful of buckets. The bucket is length(count-string)
    — integer/string, no float log."""
    li = load(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count("*").alias("rows_per_key"))
    bucket = F.length(F.col("rows_per_key").cast("string"))
    return (per_key.groupBy(bucket.alias("size_magnitude"))
            .agg(F.count("*").alias("n_keys"),
                 F.sum("rows_per_key").alias("n_rows"),
                 F.max("rows_per_key").alias("max_rows_per_key")))


ORACLE_KEY_SKEW = """
WITH per_key AS (
  SELECT l_orderkey, COUNT(*) AS rows_per_key FROM lineitem GROUP BY 1)
SELECT length(CAST(rows_per_key AS VARCHAR)) AS size_magnitude,
       COUNT(*) AS n_keys, CAST(SUM(rows_per_key) AS BIGINT) AS n_rows,
       MAX(rows_per_key) AS max_rows_per_key
FROM per_key GROUP BY 1
"""


def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit across the star: for each declared edge
    (lineitem.l_orderkey -> orders, orders.o_custkey -> customer,
    lineitem.l_suppkey -> supplier), child row count, distinct child keys,
    and orphan rows (left-anti against the parent) — the constraint check
    a lakehouse runs after every ingest, since parquet enforces nothing.
    Each edge is one anti-join (broadcast when the parent is a dim) + one
    count; edges union into a single report."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")

    def edge(name: str, child: DataFrame, key: str, parent: DataFrame,
             pkey: str) -> DataFrame:
        # one pass: left join against the (unique-keyed) parent, count
        # orphans as null parent keys — no separate anti-join scan, and no
        # 1-row crossJoin (which would plan a BroadcastNestedLoopJoin)
        j = child.join(parent.select(F.col(pkey).alias("__pk")),
                       child[key] == F.col("__pk"), "left")
        return (j.agg(F.count("*").alias("n_rows"),
                      F.countDistinct(key).alias("n_keys"),
                      F.sum(F.col("__pk").isNull().cast("int"))
                      .alias("n_orphan_rows"))
                .select(F.lit(name).alias("edge"), "n_rows", "n_keys",
                        "n_orphan_rows"))

    return (edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
            .unionByName(edge("orders->customer", orders, "o_custkey",
                              cust, "c_custkey"))
            .unionByName(edge("lineitem->supplier", li, "l_suppkey",
                              supp, "s_suppkey")))


ORACLE_REFERENTIAL_INTEGRITY = """
SELECT 'lineitem->orders' AS edge, COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_keys,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphan_rows
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'orders->customer', COUNT(*), COUNT(DISTINCT o_custkey),
       CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'lineitem->supplier', COUNT(*), COUNT(DISTINCT l_suppkey),
       CAST(SUM(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
"""


# ---------------------------------------------------------------------------
# Recursive CTE: iterate-to-fixpoint inside one SQL statement (Spark 4)
# ---------------------------------------------------------------------------

def q_recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE — the Spark 4 SQL surface for iterate-to-fixpoint
    queries that previously needed a driver loop (the engine's k-means /
    PageRank / connected-components entries hand-roll their iterations;
    this proves the declarative form works end to end). The hierarchy is
    the decimal-digit tree over customer keys (parent(k) = k div 10 — a
    dense synthetic org chart: every ancestor key exists because TPC-H
    custkeys are dense from 1), walked from the single-digit roots down;
    each customer gets its root and depth, then a per-depth rollup with
    exact-decimal balance sums. DuckDB runs the identical recursion, so
    the hash checks anchor, step, AND termination. Scale note: each
    recursion level is one self-join keyed on the parent — the same
    shuffle-per-round shape as the hand-rolled loops, with depth bounded
    by log10(max key); Spark materializes each level, so a 100 TB
    hierarchy wants the key-partitioned bucketing the CC operator
    documents."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_rec")
    return spark.sql("""
        WITH RECURSIVE h(k, root, depth) AS (
          SELECT c_custkey, c_custkey, 0
          FROM cust_rec WHERE c_custkey <= 9
          UNION ALL
          SELECT c.c_custkey, h.root, h.depth + 1
          FROM cust_rec c JOIN h ON c.c_custkey div 10 = h.k
          WHERE c.c_custkey > 9)
        SELECT h.depth, COUNT(*) AS n_customers,
               COUNT(DISTINCT h.root) AS n_roots,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_balance
        FROM h JOIN cust_rec c ON c.c_custkey = h.k
        GROUP BY h.depth
    """)


ORACLE_RECURSIVE_CTE = """
WITH RECURSIVE h(k, root, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey <= 9
  UNION ALL
  SELECT c.c_custkey, h.root, h.depth + 1
  FROM customer c JOIN h ON c.c_custkey // 10 = h.k
  WHERE c.c_custkey > 9)
SELECT h.depth, COUNT(*) AS n_customers,
       COUNT(DISTINCT h.root) AS n_roots,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_balance
FROM h JOIN customer c ON c.c_custkey = h.k
GROUP BY h.depth
"""


# ---------------------------------------------------------------------------
# Observation API: pipeline metrics without a second scan
# ---------------------------------------------------------------------------

def q_observed_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe`` — accumulator-style pipeline observability: the
    ingest-audit numbers every production job logs (rows in, rows
    dropped by each rule, total value kept) collected DURING the single
    pass, not by re-running the pipeline per metric (the naive audit
    doubles the 100 TB scan; observe rides the action for free, the
    same mechanism as Structured Streaming's per-batch metrics). Here a
    cleaning pipeline drops returned lineitems and zero-discount rows;
    one Observation on the raw scan and one on the cleaned side capture
    counts and exact-decimal sums, the action runs once (noop count),
    and the metrics themselves become the checked result row. The
    oracle recomputes every number relationally — equality proves
    observe's aggregates match first-class aggregation semantics."""
    from pyspark.sql import Observation
    li = load(spark, sf_dir, "lineitem")
    obs_in = Observation("raw")
    obs_out = Observation("clean")
    raw = li.observe(obs_in, F.count(F.lit(1)).alias("n_input"),
                     F.sum((F.col("l_returnflag") == "R").cast("bigint"))
                      .alias("n_returned"))
    clean = (raw.filter(F.col("l_returnflag") != "R")
             .filter(F.col("l_discount") > 0))
    clean = clean.observe(
        obs_out, F.count(F.lit(1)).alias("n_kept"),
        F.sum(_dec("l_extendedprice")).alias("sum_kept_price"))
    clean.write.format("noop").mode("overwrite").save()
    m = {**obs_in.get, **obs_out.get}
    return local_df(
        spark, [(m["n_input"], m["n_returned"], m["n_kept"],
                 float(m["sum_kept_price"]))],
        "n_input bigint, n_returned bigint, n_kept bigint, "
        "sum_kept_price double")


ORACLE_OBSERVED_METRICS = """
SELECT (SELECT COUNT(*) FROM lineitem) AS n_input,
       (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R')
         AS n_returned,
       COUNT(*) AS n_kept,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_kept_price
FROM lineitem WHERE l_returnflag <> 'R' AND l_discount > 0
"""


# ---------------------------------------------------------------------------
# Polymorphic UDTF: schema decided by analyze() at plan time
# ---------------------------------------------------------------------------

def q_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLYMORPHIC half of the UDTF surface (§2.8 —
    record_expand_udtf covers the declared-schema half): first_tokens'
    output columns tok_1..tok_3 exist nowhere in code; ``analyze``
    derives them at plan time from the constant n=3 argument
    (functions/udtfs.py:FirstTokens), the Spark 4 AnalyzeResult
    contract. The call runs row-local through SQL LATERAL inside the
    scan stage; the only shuffle is the report aggregation (leading
    token bigram of each document — a cheap corpus fingerprint). The
    oracle re-derives the same tokens with a whitespace regexp split,
    proving analyze-planned columns carry exactly the declared
    semantics."""
    from ..functions.udtfs import FirstTokens
    from pyspark.sql.functions import udtf as _udtf
    spark.udtf.register("first_tokens", _udtf(FirstTokens))
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql("""
        SELECT t.tok_1, t.tok_2, COUNT(*) AS n_docs,
               COUNT(t.tok_3) AS n_with_three
        FROM docs_udtf, LATERAL first_tokens(text, 3) AS t
        GROUP BY t.tok_1, t.tok_2
    """)


ORACLE_UDTF_POLYMORPHIC = r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(text, '\s+'),
                     x -> x <> '') AS a
  FROM documents)
SELECT a[1] AS tok_1, a[2] AS tok_2, COUNT(*) AS n_docs,
       COUNT(a[3]) AS n_with_three
FROM toks GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Rolling robust anomaly detection: trailing median/MAD on the daily series
# ---------------------------------------------------------------------------

MAD_WIN_DAYS = 28


def q_rolling_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly flags with a ROLLING robust baseline: each
    day's revenue is compared against the median and MAD of its trailing
    28 days — the streaming-monitor shape of mad_outliers (whose baseline
    is global and static). Medians inside a moving window have no builtin
    (percentile doesn't window), so the frame rides the trailing_median
    technique: collect the 28-day frame into an array, sort row-locally,
    take the LOWER median by integer index; deviations are a row-local
    array transform off that median, sorted again for the MAD. Everything
    is integer cents — lower-median convention avoids interpolation
    entirely, so both engines agree bit-for-bit. The window is a global
    orderBy over the DAILY table — bounded (|days|, ~2.4k at a decade),
    the same bounded-table exemption as ks_drift's ECDF; the raw-row
    shuffle is only the daily rollup. Flag rule: |x - med| > 3 * MAD,
    strict, so MAD = 0 stretches flag only genuine deviations."""
    o = load(spark, sf_dir, "orders").select(
        F.date_trunc("day", "o_orderdate").alias("day"),
        cents("o_totalprice").alias("c"))
    daily = o.groupBy("day").agg(F.sum("c").alias("c"))
    w = (Window.orderBy("day")
         .rowsBetween(-(MAD_WIN_DAYS - 1), 0))
    fr = daily.withColumn("arr", F.array_sort(F.collect_list("c").over(w)))
    med = fr.withColumn(
        "med", F.element_at("arr", F.expr("cast((size(arr) + 1) div 2 as int)")))
    mad = med.withColumn(
        "devs", F.array_sort(F.transform(
            "arr", lambda x: F.abs(x - F.col("med"))))).withColumn(
        "mad", F.element_at("devs", F.expr("cast((size(devs) + 1) div 2 as int)")))
    return mad.select(
        "day", F.col("c").alias("day_cents"),
        F.col("med").alias("med_cents"), F.col("mad").alias("mad_cents"),
        (F.abs(F.col("c") - F.col("med")) > 3 * F.col("mad"))
        .alias("is_anomaly"))


ORACLE_ROLLING_MAD = f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS day,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
  FROM orders GROUP BY 1),
fr AS (
  SELECT day, c,
         list_sort(list(c) OVER (ORDER BY day ROWS BETWEEN
           {MAD_WIN_DAYS - 1} PRECEDING AND CURRENT ROW)) AS arr
  FROM daily),
m AS (SELECT day, c, arr, arr[(len(arr) + 1) // 2] AS med FROM fr),
d AS (SELECT day, c, med,
             list_sort(list_transform(arr, x -> abs(x - med))) AS devs
      FROM m)
SELECT day, CAST(c AS BIGINT) AS day_cents, CAST(med AS BIGINT) AS med_cents,
       CAST(devs[(len(devs) + 1) // 2] AS BIGINT) AS mad_cents,
       abs(c - med) > 3 * devs[(len(devs) + 1) // 2] AS is_anomaly
FROM d
"""


# ---------------------------------------------------------------------------
# KMV set algebra: union/intersection estimates from merged sketches
# ---------------------------------------------------------------------------

H60_FULL = 1 << 60


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET ALGEBRA on KMV sketches — the capability that makes distinct
    sketches composable: 'viewers', 'clickers', 'viewers OR clickers',
    and 'viewers AND clickers' all answered from two K=64 sketches built
    once, never rescanning raw data. Union sketch = the K smallest of the
    two sketches' union (KMV's closure property — the merged sketch is
    EXACTLY the sketch of the merged set, so union estimation inherits
    single-set accuracy); intersection by inclusion-exclusion over the
    three estimates. Estimates are exact-integer: (K-1) * 2^60 div kth
    in decimal(38,0) (the numerator overflows int64; rule 7 forbids
    settling a hash on float division), so the oracle reproduces every
    estimate bit-for-bit and the measured signed error rides along in
    integer ppm. Scale shape: each sketch is a distinct (one shuffle of
    |distinct users|, the exact-audit cost — a production build keeps
    per-partition K-mins instead) + a K-row TakeOrdered; merges and
    estimates touch only K-row frames."""
    from ..functions.hashing import h60
    ev = load(spark, sf_dir, "events")

    def hashes(etype: str) -> DataFrame:
        return (ev.filter(F.col("event_type") == etype)
                .select(h60(F.col("user_id").cast("string")).alias("h"))
                .distinct())

    # cache both hash sets: each feeds its own sketch, the union sketch,
    # the exact-audit counts and the intersection join (4+ consumers) —
    # uncached, every consumer would rescan events and re-shuffle the
    # distinct; pinned, so released when the next entry starts
    hv, hc = pin(hashes("view")), pin(hashes("click"))
    est_expr = F.when(
        F.col("got") < KMV_K, F.col("got").cast("bigint")).otherwise(
        F.expr(f"cast((cast({KMV_K - 1} as decimal(38,0)) * "
               f"cast({H60_FULL} as decimal(38,0))) div kth as bigint)"))

    def sketch_est(df: DataFrame, name: str) -> DataFrame:
        return (df.orderBy("h").limit(KMV_K)
                .agg(F.max("h").alias("kth"), F.count("*").alias("got"))
                .select(F.lit(name).alias("set_name"),
                        est_expr.alias("est")))

    ests3 = (sketch_est(hv, "view")
             .unionByName(sketch_est(hc, "click"))
             .unionByName(sketch_est(hv.union(hc).distinct(), "union")))
    wide = ests3.agg(
        F.max(F.when(F.col("set_name") == "view", F.col("est"))).alias("ev"),
        F.max(F.when(F.col("set_name") == "click", F.col("est"))).alias("ec"),
        F.max(F.when(F.col("set_name") == "union", F.col("est"))).alias("eu"))
    esti = wide.select(F.lit("intersection").alias("set_name"),
                       (F.col("ev") + F.col("ec") - F.col("eu")).alias("est"))
    ests = ests3.unionByName(esti)

    exacts = (hv.agg(F.count("*").alias("exact"))
              .select(F.lit("view").alias("set_name"), "exact")
              .unionByName(hc.agg(F.count("*").alias("exact"))
                           .select(F.lit("click").alias("set_name"), "exact"))
              .unionByName(hv.union(hc).distinct()
                           .agg(F.count("*").alias("exact"))
                           .select(F.lit("union").alias("set_name"), "exact"))
              .unionByName(hv.join(hc, "h")
                           .agg(F.count("*").alias("exact"))
                           .select(F.lit("intersection").alias("set_name"),
                                   "exact")))
    return (ests.join(exacts, "set_name")
            .select("set_name", "est", F.col("exact").cast("bigint")
                    .alias("exact_distinct"),
                    F.expr("(est - exact) * 1000000 div exact")
                     .alias("err_ppm")))


def _oracle_kmv_set_ops() -> str:
    h = h60_sql("user_id::VARCHAR")
    est = (f"CASE WHEN got < {KMV_K} THEN got ELSE "
           f"CAST(({KMV_K - 1}::HUGEINT * {H60_FULL}::HUGEINT) // kth "
           f"AS BIGINT) END")
    return f"""
WITH hv AS (SELECT DISTINCT {h} AS h FROM events
            WHERE event_type = 'view'),
hc AS (SELECT DISTINCT {h} AS h FROM events WHERE event_type = 'click'),
hu AS (SELECT h FROM hv UNION SELECT h FROM hc),
skv AS (SELECT h FROM hv ORDER BY h LIMIT {KMV_K}),
skc AS (SELECT h FROM hc ORDER BY h LIMIT {KMV_K}),
sku AS (SELECT h FROM hu ORDER BY h LIMIT {KMV_K}),
ev AS (SELECT {est} AS est FROM
       (SELECT MAX(h) AS kth, COUNT(*) AS got FROM skv)),
ec AS (SELECT {est} AS est FROM
       (SELECT MAX(h) AS kth, COUNT(*) AS got FROM skc)),
eu AS (SELECT {est} AS est FROM
       (SELECT MAX(h) AS kth, COUNT(*) AS got FROM sku)),
ests AS (
  SELECT 'view' AS set_name, est FROM ev
  UNION ALL SELECT 'click', est FROM ec
  UNION ALL SELECT 'union', est FROM eu
  UNION ALL SELECT 'intersection',
    (SELECT est FROM ev) + (SELECT est FROM ec) - (SELECT est FROM eu)),
exacts AS (
  SELECT 'view' AS set_name, COUNT(*) AS exact FROM hv
  UNION ALL SELECT 'click', COUNT(*) FROM hc
  UNION ALL SELECT 'union', COUNT(*) FROM hu
  UNION ALL SELECT 'intersection', COUNT(*)
    FROM hv JOIN hc ON hv.h = hc.h)
SELECT e.set_name, CAST(est AS BIGINT) AS est,
       CAST(exact AS BIGINT) AS exact_distinct,
       CAST((est - exact) * 1000000 // exact AS BIGINT) AS err_ppm
FROM ests e JOIN exacts x ON e.set_name = x.set_name
"""


# ---------------------------------------------------------------------------
# Two-phase global ranking: the scale-safe global row_number
# ---------------------------------------------------------------------------

RANK_BUCKET_W = 100_000   # $1,000 ranking buckets (cents)


def q_rank_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row_number WITHOUT a global window — the two-phase ranking
    pattern this repo's global-NTILE reports name as their 100 TB swap
    (q_spend_quartiles docstring), here implemented and oracle-PROVEN:
    (1) bucket rows by value range and aggregate per-bucket counts (one
    bounded shuffle); (2) turn counts into per-bucket starting offsets
    with a window over the ~100-row bucket table; (3) broadcast-join the
    offsets back and rank WITHIN each bucket (Window.partitionBy(bucket)
    — parallel across buckets, each partition holds one band, never the
    table); global_rank = offset + within-bucket rank. The tie order
    (cents, orderkey, linenumber) is total, so every row's rank is
    pinned. Because the full ranking is |rows|-sized, the checked result
    compresses it into order-SENSITIVE aggregates: n, sum(rank) (= the
    triangular number — any duplicate/missing rank breaks it), and a
    rank-weighted content checksum sum(rank * (h60(key) % 1000)) that a
    single transposition of any two ranks would change. The oracle ranks
    with a plain global row_number — hash equality proves the two-phase
    decomposition computes the identical permutation."""
    from ..functions.hashing import h60
    li = load(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").alias("c"), "l_orderkey", "l_linenumber")
    li = li.withColumn("b", F.expr(f"c div {RANK_BUCKET_W}"))
    counts = li.groupBy("b").agg(F.count("*").alias("cnt"))
    woff = (Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "b", F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off"))
    win = Window.partitionBy("b").orderBy("c", "l_orderkey", "l_linenumber")
    ranked = (li.join(F.broadcast(offsets), "b")
              .withColumn("rank", F.col("off") + F.row_number().over(win)))
    key = F.concat(F.col("l_orderkey").cast("string"), F.lit("_"),
                   F.col("l_linenumber").cast("string"))
    # the checksums accumulate in decimal(38,0): sum(rank) = n(n+1)/2
    # passes int64 at n ~ 4.3e9 rows and Spark's non-ANSI int64 sum
    # would wrap silently; the final cast back to bigint is the checked
    # OUTPUT's documented ceiling, the accumulator itself is exact
    return ranked.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("rank").cast("decimal(38,0)"))
         .cast("bigint").alias("sum_rank"),
        F.sum((F.col("rank") * (h60(key) % 1000)).cast("decimal(38,0)"))
         .cast("bigint").alias("rank_checksum"))


def _oracle_rank_twophase() -> str:
    h = h60_sql("CAST(l_orderkey AS VARCHAR) || '_' || "
                "CAST(l_linenumber AS VARCHAR)")
    return f"""
WITH t AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                  l_orderkey, l_linenumber, {h} % 1000 AS hk
           FROM lineitem),
ranked AS (SELECT hk, row_number() OVER
             (ORDER BY c, l_orderkey, l_linenumber) AS rank FROM t)
SELECT COUNT(*) AS n_rows, CAST(SUM(rank) AS BIGINT) AS sum_rank,
       CAST(SUM(rank * hk) AS BIGINT) AS rank_checksum
FROM ranked
"""


# ---------------------------------------------------------------------------
# Duration-capped sessionization: gaps-and-islands + fixed-offset splits
# ---------------------------------------------------------------------------

SESSION_GAP_US = 1_800_000_000    # 30-minute inactivity gap
SESSION_CAP_US = 3_600_000_000    # 1-hour max sub-session duration


def q_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH boundary rules real products use: a new
    session after 30 min of inactivity (the gap rule — session_window /
    streaming_sessionization's semantics) AND a 1-hour cap on session
    duration (the rule gap-based sessionization alone cannot express: a
    steady drip of events keeps a gap-session open forever — the
    pathological key that grows streaming state without bound). The cap
    is the fixed-offset convention: a gap-session splits at start+1h,
    start+2h, ... (sub_id = elapsed div cap — row-local integer math),
    which is the SQL-tractable form; restart-the-clock-on-split capping
    is inherently sequential and needs the stateful streaming operator
    instead. Dataflow: ONE shuffle on user_id serves the lag-gap flag,
    the island id (running sum), and the session-start propagation
    (min over the island); the report histogram is a bounded second
    aggregation. Microsecond integer arithmetic; epoch offset cancels in
    the differences."""
    src = load(spark, sf_dir, "events")
    us = event_micros(src)
    ev = src.select("user_id", us.alias("us"))
    wo = Window.partitionBy("user_id").orderBy("us")
    flagged = ev.withColumn(
        "new_sess",
        (F.col("us") - F.lag("us").over(wo) > SESSION_GAP_US)
        .cast("int")).fillna({"new_sess": 1})
    ids = flagged.withColumn(
        "sess", F.sum("new_sess").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ws = Window.partitionBy("user_id", "sess")
    sub = ids.withColumn("start_us", F.min("us").over(ws)).withColumn(
        "sub_id", F.expr(f"(us - start_us) div {SESSION_CAP_US}"))
    per = (sub.groupBy("user_id", "sess", "sub_id")
           .agg(F.count("*").alias("n_events")))
    return (per.groupBy("n_events")
            .agg(F.count("*").alias("n_subsessions")))


ORACLE_CAPPED_SESSIONS = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
flagged AS (
  SELECT user_id, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   > {SESSION_GAP_US} OR
                   LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM ev),
ids AS (
  SELECT user_id, us,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM flagged),
sub AS (
  SELECT user_id, sess,
         (us - MIN(us) OVER (PARTITION BY user_id, sess))
           // {SESSION_CAP_US} AS sub_id
  FROM ids),
per AS (SELECT user_id, sess, sub_id, COUNT(*) AS n_events
        FROM sub GROUP BY 1, 2, 3)
SELECT n_events, COUNT(*) AS n_subsessions FROM per GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Weekday seasonality decomposition in exact integers
# ---------------------------------------------------------------------------

def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal profile of the daily order-revenue series: per-weekday
    mean daily revenue and its offset from the global daily mean — the
    decomposition behind 'is Tuesday really slower' and the input to any
    seasonal-naive forecast baseline. Exact integer arithmetic end to
    end (rule 7): daily totals are exact cents, weekday means are
    TRUNCATING integer division (convention pinned in both engines),
    offsets subtract the same-convention global mean, so no float
    accumulation or rounding can diverge. Weekday numbering is pinned to
    Monday=0 (Spark weekday() == DuckDB isodow-1 — the two engines'
    DEFAULT dow functions disagree on where Sunday lands). Dataflow: one
    shuffle to daily grain, one to the 7-row weekday table; the global
    mean is a window over 7 rows."""
    o = load(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        cents("o_totalprice").alias("c"))
    daily = o.groupBy("day").agg(F.sum("c").alias("day_cents"))
    wd = (daily.withColumn("weekday", F.weekday("day"))
          .groupBy("weekday")
          .agg(F.count("*").alias("n_days"),
               F.sum("day_cents").alias("total_cents")))
    wg = Window.partitionBy()
    return (wd.withColumn("gt", F.sum("total_cents").over(wg))
            .withColumn("gn", F.sum("n_days").over(wg))
            .select("weekday", "n_days", "total_cents",
                    F.expr("total_cents div n_days").alias("mean_cents"),
                    F.expr("total_cents div n_days - gt div gn")
                     .alias("offset_cents")))


ORACLE_WEEKDAY_SEASONALITY = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS day_cents
  FROM orders GROUP BY 1),
wd AS (
  SELECT isodow(day) - 1 AS weekday, COUNT(*) AS n_days,
         SUM(day_cents) AS total_cents
  FROM daily GROUP BY 1)
SELECT CAST(weekday AS INTEGER) AS weekday, n_days,
       CAST(total_cents AS BIGINT) AS total_cents,
       CAST(total_cents // n_days AS BIGINT) AS mean_cents,
       CAST(total_cents // n_days -
            (SUM(total_cents) OVER ()) // (SUM(n_days) OVER ()) AS BIGINT)
         AS offset_cents
FROM wd
"""


# ---------------------------------------------------------------------------
# Exact order statistics at scale: two-pass distributed selection
# ---------------------------------------------------------------------------

QSEL_BUCKET_W = 100_000       # pass-1 bucket width: $1,000 in cents
QSEL_PCTS = (25, 50, 90, 99)  # rank convention: k = ceil(q*n/100), 1-based


def q_exact_quantiles_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global percentiles without a global sort — the distributed
    selection algorithm (two-pass bucket narrowing). `percentile()` is
    exact but buffers whole groups; `sampled_quantiles` trades exactness
    for a bounded sort; THIS is the remaining cell of the matrix: exact
    values at 100 TB. Pass 1 histograms values into fixed $1,000 buckets
    (map-side combine; shuffle = |buckets|, here ~100 rows independent of
    data size) and the driver reads that bounded table to locate, for each
    target rank k = ceil(q*n/100), the bucket containing the k-th value
    and the residual rank within it. Pass 2 scans only rows in the (<=4)
    targeted buckets, aggregates per distinct value (shuffle = |distinct
    cents in targeted bands|, bounded by band width), and a per-bucket
    cumulative window finds the unique value whose cumulative count
    crosses the residual rank. No row-level sort anywhere; if a band were
    still hot at 100 TB the same narrowing recurses with a finer width.
    All arithmetic on integer cents (rule 7); ties are rank-stable because
    selection is by value count, not row order."""
    li = load(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").alias("c"))
    li = li.withColumn("b", F.expr(f"c div {QSEL_BUCKET_W}"))

    # pass 1: bounded bucket histogram -> driver (O(value_range / width))
    hist = sorted((r["b"], r["cnt"]) for r in
                  li.groupBy("b").agg(F.count("*").alias("cnt")).collect())
    n = sum(cnt for _, cnt in hist)
    targets = []          # (pct, bucket, residual rank within bucket)
    for q in QSEL_PCTS:
        k = (n * q + 99) // 100
        cum = 0
        for b, cnt in hist:
            if cum + cnt >= k:
                targets.append((q, b, k - cum))
                break
            cum += cnt
    tdf = local_df(spark, targets, "pct int, b bigint, rk bigint")

    # pass 2: per-value counts inside targeted buckets only, then the
    # crossing value per target (cum >= rk and cum - cnt < rk is unique)
    vc = (li.filter(F.col("b").isin([b for _, b, _ in targets]))
          .groupBy("b", "c").agg(F.count("*").alias("cnt")))
    wb = (Window.partitionBy("b").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    vcc = vc.withColumn("cum", F.sum("cnt").over(wb))
    return (vcc.join(tdf, "b")
            .filter((F.col("cum") >= F.col("rk")) &
                    (F.col("cum") - F.col("cnt") < F.col("rk")))
            .select("pct", F.col("c").alias("value_cents"),
                    F.lit(n).cast("bigint").alias("n_rows")))


ORACLE_EXACT_QUANTILES = f"""
WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
           FROM lineitem),
ranked AS (SELECT c, row_number() OVER (ORDER BY c) AS rn,
                  COUNT(*) OVER () AS n FROM c)
SELECT q AS pct, c AS value_cents, CAST(n AS BIGINT) AS n_rows
FROM ranked JOIN (VALUES {", ".join(f"({q})" for q in QSEL_PCTS)}) AS t(q)
  ON rn = (n * q + 99) // 100
"""


def q_histogram_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantiles: the sketch-maintenance law behind
    incremental percentiles at 100 TB (hll_partition_merge's analog for
    order statistics). Per-month partial equi-width histograms of order
    totals (integer-cent bins, $5,000 wide) are SUM-merged into a global
    histogram, proven bin-for-bin identical to the directly-built one
    (bins_mismatched must be 0 — counters are associative, so partials
    written at ingest time can serve any later quantile query without
    rescanning history). p50/p90 are then estimated from the merged
    histogram by integer linear interpolation inside the crossing bin —
    exact integer arithmetic end to end, so both engines derive the
    identical estimate. Dataflow: two bounded shuffles (|months x bins|,
    then |bins|); every window runs over the bounded bin table, never raw
    rows."""
    W_BIN = 500_000
    o = load(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("mo"),
        cents("o_totalprice").alias("cts")).select(
        "mo", F.expr(f"cts div {W_BIN}").alias("bin"))
    partials = o.groupBy("mo", "bin").agg(F.count("*").alias("c"))
    merged = partials.groupBy("bin").agg(F.sum("c").alias("n_merged"))
    direct = o.groupBy("bin").agg(F.count("*").alias("n_direct"))
    bins = (merged.join(direct, "bin", "full_outer")
            .select("bin",
                    F.coalesce("n_merged", F.lit(0)).alias("n_merged"),
                    F.coalesce("n_direct", F.lit(0)).alias("n_direct")))
    wg = Window.partitionBy()
    wprev = (Window.orderBy("bin")
             .rowsBetween(Window.unboundedPreceding, -1))
    ann = bins.select(
        "bin", "n_merged",
        F.coalesce(F.sum("n_merged").over(wprev), F.lit(0)).alias("cumb"),
        F.sum("n_merged").over(wg).alias("n_total"),
        F.sum((F.col("n_merged") != F.col("n_direct")).cast("int"))
         .over(wg).alias("bins_mismatched"),
        F.count("*").over(wg).alias("n_bins"))
    parts = []
    for q in (50, 90):
        k = F.expr(f"(n_total * {q} + 99) div 100")
        est = F.expr(f"bin * {W_BIN} + "
                     f"(((n_total * {q} + 99) div 100) - cumb) "
                     f"* {W_BIN} div n_merged")
        parts.append(ann.filter((F.col("cumb") < k) &
                                (k <= F.col("cumb") + F.col("n_merged")))
                     .select(F.lit(q).alias("pct"), est.alias("est_cents"),
                             F.col("bins_mismatched").cast("bigint")
                              .alias("bins_mismatched"),
                             F.col("n_bins").cast("bigint").alias("n_bins")))
    return parts[0].unionByName(parts[1])


ORACLE_HISTOGRAM_QUANTILE_MERGE = """
WITH o AS (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS mo,
                  CAST(round(o_totalprice * 100) AS BIGINT) // 500000 AS bin
           FROM orders),
partials AS (SELECT mo, bin, COUNT(*) AS c FROM o GROUP BY 1, 2),
merged AS (SELECT bin, SUM(c) AS n_merged FROM partials GROUP BY 1),
direct AS (SELECT bin, COUNT(*) AS n_direct FROM o GROUP BY 1),
bins AS (SELECT COALESCE(m.bin, d.bin) AS bin,
                COALESCE(n_merged, 0) AS n_merged,
                COALESCE(n_direct, 0) AS n_direct
         FROM merged m FULL OUTER JOIN direct d ON m.bin = d.bin),
ann AS (SELECT bin, n_merged,
               COALESCE(SUM(n_merged) OVER (ORDER BY bin ROWS BETWEEN
                 UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
               SUM(n_merged) OVER () AS n_total,
               SUM(CASE WHEN n_merged <> n_direct THEN 1 ELSE 0 END)
                 OVER () AS bins_mismatched,
               COUNT(*) OVER () AS n_bins
        FROM bins)
SELECT q AS pct,
       CAST(bin * 500000 + ((n_total * q + 99) // 100 - cumb) * 500000
         // n_merged AS BIGINT) AS est_cents,
       CAST(bins_mismatched AS BIGINT) AS bins_mismatched,
       CAST(n_bins AS BIGINT) AS n_bins
FROM ann JOIN (VALUES (50), (90)) AS t(q)
  ON cumb < (n_total * q + 99) // 100
 AND (n_total * q + 99) // 100 <= cumb + n_merged
"""


# ---------------------------------------------------------------------------
# Change-point detection, FD discovery, deep star-schema share
# ---------------------------------------------------------------------------

def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily order-revenue series —
    the monitoring primitive behind 'when did this metric shift'. The
    classic statistic cusum_i = sum_{j<=i}(x_j - mean) needs the global
    mean, which would force either two passes or float division; instead
    the whole computation is scaled by n (the day count): with T = total
    cents and prefix_i the running sum, S_i = n*prefix_i - i*T is exactly
    n*cusum_i — exact integer arithmetic (decimal(38,0) products; see
    inline note), no division, no float drift, and
    argmax|S_i| is the same day as argmax|cusum_i|. Dataflow: ONE shuffle
    collapses orders to the daily grain (map-side combine); every window
    after that runs over the BOUNDED daily table (|days| ~ 2.4k rows
    regardless of order volume — same bounded-grain argument as
    rolling_mad_anomaly/weekday_seasonality), so the global orderBy
    window never sees row-proportional data. Emits the top-5 candidate
    change-points by |S_i| (tiebreak: day asc), with the day's index and
    the scaled statistic for downstream thresholding."""
    o = load(spark, sf_dir, "orders").select(
        F.date_trunc("day", "o_orderdate").alias("day"),
        cents("o_totalprice").alias("c"))
    daily = o.groupBy("day").agg(F.sum("c").alias("day_cents"))
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    wg = Window.partitionBy()
    cur = (daily
           .withColumn("prefix", F.sum("day_cents").over(wd))
           .withColumn("i", F.row_number().over(Window.orderBy("day")))
           .withColumn("n", F.count("*").over(wg))
           .withColumn("total", F.sum("day_cents").over(wg))
           # the products form in decimal(38,0): n*prefix reaches
           # ~2.4e3 * total-cents and passes int64 once total revenue
           # passes ~$4e13 — Spark's non-ANSI int64 product would wrap
           # silently and corrupt the argmax. The argmax
           # ordering runs on the exact decimal; the emitted bigint is
           # the output's documented ceiling.
           .withColumn("s_dec",
                       F.col("n").cast("decimal(38,0)") * F.col("prefix")
                       - F.col("i").cast("decimal(38,0)") * F.col("total")))
    return (cur.select("day", "i", "day_cents",
                       F.col("s_dec").cast("bigint").alias("s_scaled"),
                       F.abs("s_dec").alias("abs_dec"))
            .orderBy(F.desc("abs_dec"), "day").limit(5)
            .select("day", "i", "day_cents", "s_scaled",
                    F.col("abs_dec").cast("bigint").alias("abs_s")))


ORACLE_CUSUM_CHANGEPOINT = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS day,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS day_cents
  FROM orders GROUP BY 1),
cur AS (
  SELECT day, day_cents,
         SUM(day_cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS prefix,
         row_number() OVER (ORDER BY day) AS i,
         COUNT(*) OVER () AS n,
         SUM(day_cents) OVER () AS total
  FROM daily)
SELECT day, CAST(i AS INTEGER) AS i, CAST(day_cents AS BIGINT) AS day_cents,
       CAST(n * prefix - i * total AS BIGINT) AS s_scaled,
       CAST(abs(n * prefix - i * total) AS BIGINT) AS abs_s
FROM cur
ORDER BY abs_s DESC, day ASC
LIMIT 5
"""


_FD_CANDIDATES = [
    # (fd label, table, lhs col, rhs col)
    ("customer: c_custkey -> c_nationkey", "customer",
     "c_custkey", "c_nationkey"),
    ("customer: c_nationkey -> c_mktsegment", "customer",
     "c_nationkey", "c_mktsegment"),
    ("customer: c_mktsegment -> c_nationkey", "customer",
     "c_mktsegment", "c_nationkey"),
    ("orders: o_custkey -> o_orderpriority", "orders",
     "o_custkey", "o_orderpriority"),
]


def q_fd_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery audit — the data-profiling op
    behind key inference and normalization checks ('is A a key for B?').
    For each candidate FD A -> B: the number of A-groups, the number of
    VIOLATING groups (|distinct B| > 1 within the group), the worst
    group's distinct-B count, and a holds flag. Each FD is one
    two-level aggregation: groupBy(A) x count_distinct(B) — partial
    aggregation combines map-side, the shuffle carries (A, B) pairs
    pre-deduped per partition — then a second bounded aggregate over the
    |A|-row group table. The per-FD results (1 row each) union into the
    profile. At 100 TB each FD is an independent single-shuffle job over
    the SAME scan; a multi-FD optimization (one pass emitting (fd, A, B)
    via explode, then one grouped count) trades scan count for shuffle
    volume and is the right swap when the table is scan-bound — the
    shape here keeps per-FD shuffles minimal, which wins when A is
    low-cardinality. All-integer output (rule 7)."""
    profiles = []
    for label, table, lhs, rhs in _FD_CANDIDATES:
        t = load(spark, sf_dir, table).select(
            F.col(lhs).cast("string").alias("lhs"),
            F.col(rhs).cast("string").alias("rhs"))
        grp = (t.groupBy("lhs")
               .agg(F.countDistinct("rhs").alias("n_rhs")))
        profiles.append(grp.agg(
            F.lit(label).alias("fd"),
            F.count("*").alias("n_groups"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
             .alias("n_violating"),
            F.max("n_rhs").alias("max_rhs_per_group"),
            (F.max("n_rhs") == 1).cast("int").alias("holds")))
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


def _oracle_fd_profile() -> str:
    parts = []
    for label, table, lhs, rhs in _FD_CANDIDATES:
        parts.append(f"""
SELECT '{label}' AS fd, COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       MAX(n_rhs) AS max_rhs_per_group,
       CAST(CASE WHEN MAX(n_rhs) = 1 THEN 1 ELSE 0 END AS INTEGER) AS holds
FROM (SELECT CAST({lhs} AS VARCHAR) AS lhs,
             COUNT(DISTINCT CAST({rhs} AS VARCHAR)) AS n_rhs
      FROM {table} GROUP BY 1)""")
    return "\nUNION ALL\n".join(parts)


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_2's share of ASIA-region STANDARD-part
    revenue per order year — the deepest join in the catalog (lineitem x
    orders x customer x nation x region x supplier x nation x part = 7
    joins). The plan is the star-schema stress test for Catalyst's join
    planning: every dimension chain (customer->nation->region, supplier->
    nation, part) collapses to a broadcast hash join under the 64 MB
    threshold, so the ONLY shuffle is lineitem x orders on l_orderkey —
    at 100 TB that is one fact-fact hash join plus broadcast dims,
    exactly the plan a warehouse would pick. Region/part filters reach
    their dimension scans (pushdown), pruning before any join. Share =
    ratio of two exact decimal sums per year (bit-stable double division
    on identical inputs, rule 1/2)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(8,2)")
                                      - _dec("l_discount", "8,2"))
    zero = F.lit(0).cast("decimal(28,4)")
    cust_dim = (cust.join(nat, cust.c_nationkey == nat.n_nationkey)
                .join(reg, F.col("n_regionkey") == reg.r_regionkey)
                .select("c_custkey"))
    supp_dim = (supp.join(nat.select(F.col("n_nationkey").alias("sn_key"),
                                     F.col("n_name").alias("supp_nation")),
                          supp.s_nationkey == F.col("sn_key"))
                .select("s_suppkey", "supp_nation"))
    j = (li.join(part, li.l_partkey == part.p_partkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust_dim, orders.o_custkey == cust_dim.c_custkey)
         .join(supp_dim, li.l_suppkey == supp_dim.s_suppkey)
         .select(F.year("o_orderdate").alias("o_year"),
                 F.col("supp_nation"), disc.alias("disc")))
    agg = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("disc"))
              .otherwise(zero)).cast("double").alias("nation_revenue"),
        F.sum("disc").cast("double").alias("total_revenue"))
    return (agg.select("o_year", "nation_revenue", "total_revenue",
                       (F.col("nation_revenue") / F.col("total_revenue"))
                       .alias("mkt_share"))
            .orderBy("o_year"))


ORACLE_MARKET_SHARE = """
WITH agg AS (
  SELECT year(o_orderdate) AS o_year,
    CAST(SUM(CASE WHEN sn.n_name = 'NATION_2'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))
             ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) AS nation_revenue,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  GROUP BY 1)
SELECT CAST(o_year AS INTEGER) AS o_year, nation_revenue, total_revenue,
       nation_revenue / total_revenue AS mkt_share
FROM agg
ORDER BY o_year
"""


RELATIONAL_QUERIES = [
    QueryDef("pricing_summary", q_pricing_summary, ORACLE_PRICING, "T11,A5,X-avg,S4", bench=True),
    QueryDef("shipping_priority", q_shipping_priority, ORACLE_SHIPPING, "J2,O1,A5", bench=True),
    QueryDef("region_volume", q_region_volume, ORACLE_REGION_VOLUME, "J1,J2,T11", bench=True),
    QueryDef("best_snapshot", q_best_snapshot, ORACLE_BEST_SNAPSHOT, "X3,O1", bench=True),
    QueryDef("dedup_full_row", q_dedup_full_row, ORACLE_DEDUP_FULL_ROW, "A1,U1"),
    QueryDef("dedup_keep_latest", q_dedup_keep_latest, ORACLE_DEDUP_KEEP_LATEST, "A2", bench=True),
    QueryDef("distinct_event_types", q_distinct_event_types, ORACLE_DISTINCT_EVENT_TYPES, "A3"),
    QueryDef("expected_minus_found", q_expected_minus_found, ORACLE_EXPECTED_MINUS_FOUND, "A4"),
    QueryDef("table_counts", q_table_counts, ORACLE_TABLE_COUNTS, "A5,U1"),
    QueryDef("exp_weighted_value", q_exp_weighted_value, ORACLE_EXP_WEIGHTED, "X1", bench=True),
    QueryDef("trailing_avg", q_trailing_avg, ORACLE_TRAILING_AVG, "X1-window"),
    QueryDef("matchup_differential", q_matchup_differential, ORACLE_MATCHUP, "J2,X2"),
    QueryDef("asof_join", q_asof_join, ORACLE_ASOF, "J3", bench=True),
    QueryDef("multi_key_sort", q_multi_key_sort, ORACLE_MULTI_KEY_SORT, "O1"),
    QueryDef("union_by_name", q_union_by_name, ORACLE_UNION_BY_NAME, "U1,U2"),
    QueryDef("filter_pushdown", q_filter_pushdown, ORACLE_FILTER_PUSHDOWN, "T11,T12,S4", bench=True),
    QueryDef("record_split", q_record_split, ORACLE_RECORD_SPLIT, "T3"),
    QueryDef("pct_parse", q_pct_parse, ORACLE_PCT_PARSE, "T4,T5,T8"),
    QueryDef("clean_sentinels", q_clean_sentinels, ORACLE_CLEAN_SENTINELS, "T2,T8,T9"),
    QueryDef("coerce_types", q_coerce_types, ORACLE_COERCE_TYPES, "T10"),
    QueryDef("json_extract", q_json_extract, ORACLE_JSON_EXTRACT, "T1-json"),
    QueryDef("priority_extract", q_priority_extract, ORACLE_PRIORITY_EXTRACT, "T3-regex"),
    QueryDef("tz_hour_histogram", q_tz_hour_histogram, ORACLE_TZ_HOUR, "T13"),
    QueryDef("hourly_zero_fill", q_hourly_zero_fill, ORACLE_HOURLY_ZERO_FILL, "T14"),
    QueryDef("hourly_interpolate", q_hourly_interpolate, ORACLE_HOURLY_INTERPOLATE, "T14-interp", bench=True),
    QueryDef("weekly_rollup", q_weekly_rollup, ORACLE_WEEKLY_ROLLUP, "W-window", bench=True),
    QueryDef("pivot_wide", q_pivot_wide, ORACLE_PIVOT_WIDE, "J1-pivot", bench=True),
    QueryDef("explode_array", q_explode_array, ORACLE_EXPLODE_ARRAY, "T1"),
    QueryDef("value_percentiles", q_value_percentiles, ORACLE_VALUE_PERCENTILES, "A-quantile"),
    QueryDef("sampled_quantiles", q_sampled_quantiles,
             _oracle_sampled_quantiles(), "A-quantile-sampled,LLM-sampling"),
    QueryDef("distinct_kmv", q_distinct_kmv, ORACLE_DISTINCT_KMV, "A-sketch-kmv"),
    QueryDef("distinct_hll", q_distinct_hll, ORACLE_DISTINCT_HLL,
             "A-sketch-hll"),
    QueryDef("hll_partition_merge", q_hll_partition_merge, ORACLE_HLL_MERGE,
             "A-sketch-merge"),
    QueryDef("skyline_frontier", q_skyline_frontier, ORACLE_SKYLINE,
             "X3+T11: two-phase Pareto skyline"),
    QueryDef("ohlc_daily", q_ohlc_daily, ORACLE_OHLC_DAILY,
             "A5+X1: OHLC downsample via struct extrema"),
    QueryDef("nearest_event_join", q_nearest_event_join,
             ORACLE_NEAREST_EVENT,
             "J3: bidirectional nearest-event as-of join"),
    QueryDef("user_sessions", q_user_sessions, ORACLE_USER_SESSIONS, "W-session"),
    QueryDef("rollup_revenue", q_rollup_revenue, ORACLE_ROLLUP_REVENUE, "A-rollup", bench=True),
    QueryDef("daily_delta", q_daily_delta, ORACLE_DAILY_DELTA, "X-lag,T14"),
    QueryDef("cube_sales", q_cube_sales, ORACLE_CUBE_SALES, "A-cube"),
    QueryDef("status_intersect", q_status_intersect, ORACLE_STATUS_INTERSECT, "U-intersect"),
    QueryDef("spend_quartiles", q_spend_quartiles, ORACLE_SPEND_QUARTILES, "A-ntile"),
    QueryDef("spend_quartiles_cutoffs", q_spend_quartiles_cutoffs,
             ORACLE_SPEND_QUARTILES_CUTOFFS, "A-ntile-100TB-cutoffs"),
    QueryDef("semi_join", q_semi_join, ORACLE_SEMI_JOIN, "J-semi"),
    QueryDef("anti_join", q_anti_join, ORACLE_ANTI_JOIN, "J-anti,A4"),
    QueryDef("grouping_sets", q_grouping_sets, ORACLE_GROUPING_SETS, "A-gsets"),
    QueryDef("except_all", q_except_all, ORACLE_EXCEPT_ALL, "U-exceptall"),
    QueryDef("acctbal_pctrank", q_acctbal_pctrank, ORACLE_ACCTBAL_PCTRANK, "A-prank"),
    QueryDef("qty_price_corr", q_qty_price_corr, ORACLE_QTY_PRICE_CORR, "A-stats"),
    QueryDef("clicks_before_purchase", q_clicks_before_purchase, ORACLE_CLICKS_BEFORE_PURCHASE, "J-range"),
    QueryDef("sliding_windows", q_sliding_windows, ORACLE_SLIDING_WINDOWS, "W-sliding"),
    QueryDef("unpivot_metrics", q_unpivot_metrics, ORACLE_UNPIVOT_METRICS, "J1-unpivot"),
    QueryDef("locf_fill", q_locf_fill, ORACLE_LOCF_FILL, "T14-locf"),
    QueryDef("lateral_topk", q_lateral_topk, ORACLE_LATERAL_TOPK, "X3-sql"),
    QueryDef("topk_salted", q_topk_salted, ORACLE_TOPK_SALTED,
             "X3-skew-salted"),
    QueryDef("trailing_7d_sum", q_trailing_7d_sum, ORACLE_TRAILING_7D, "X1-range-frame"),
    QueryDef("scd2_intervals", q_scd2_intervals, ORACLE_SCD2, "A2-scd2"),
    QueryDef("user_event_sequences", q_user_event_sequences,
             ORACLE_USER_EVENT_SEQUENCES, "A-collect-seq"),
    QueryDef("brand_max_price", q_brand_max_price, ORACLE_BRAND_MAX_PRICE,
             "Q-subq-corr-scalar"),
    QueryDef("top_supplier", q_top_supplier, ORACLE_TOP_SUPPLIER,
             "Q-subq-scalar,A5"),
    QueryDef("big_order_customers", q_big_order_customers,
             ORACLE_BIG_ORDER_CUSTOMERS, "A-having,J-semi", bench=True),
    QueryDef("dormant_high_balance", q_dormant_high_balance,
             ORACLE_DORMANT_HIGH_BALANCE, "Q-not-exists,J-anti"),
    QueryDef("promo_revenue_share", q_promo_revenue_share,
             ORACLE_PROMO_REVENUE_SHARE, "A-cond-agg", bench=True),
    QueryDef("trimmed_mean", q_trimmed_mean, ORACLE_TRIMMED_MEAN,
             "A-trimmed-mean,A-quantile", bench=True),
    QueryDef("trimmed_mean_binned", q_trimmed_mean_binned,
             ORACLE_TRIMMED_MEAN, "A-trimmed-mean,A-quantile-scale-twin"),
    QueryDef("winsorized_stats", q_winsorized_stats, ORACLE_WINSORIZED,
             "A-winsorize,A-order-statistic"),
    QueryDef("asof_tolerance", q_asof_tolerance, ORACLE_ASOF_TOLERANCE,
             "J3-tolerance"),
    QueryDef("drift_tvd", q_drift_tvd, ORACLE_DRIFT_TVD,
             "A-drift-audit"),
    QueryDef("full_outer_reconcile", q_full_outer_reconcile,
             ORACLE_FULL_OUTER_RECONCILE, "J-full-outer,A5"),
    QueryDef("minmax_scale", q_minmax_scale, ORACLE_MINMAX_SCALE,
             "LLM-standardize-minmax,X-window"),
    QueryDef("record_expand_udtf", q_record_expand_udtf,
             ORACLE_RECORD_EXPAND_UDTF, "S2.8-udtf,T3"),
    QueryDef("forecast_revenue", q_forecast_revenue, ORACLE_FORECAST_REVENUE,
             "T11,A5", bench=True),
    QueryDef("returned_item_customers", q_returned_item_customers,
             ORACLE_RETURNED_ITEM_CUSTOMERS, "J2,X3,A5"),
    QueryDef("corrupt_record_audit", q_corrupt_record_audit,
             ORACLE_CORRUPT_RECORD_AUDIT, "T10-permissive"),
    QueryDef("monthly_rank_report", q_monthly_rank_report,
             ORACLE_MONTHLY_RANK_REPORT, "X-rank-window"),
    QueryDef("behavior_set_overlap", q_behavior_set_overlap,
             ORACLE_BEHAVIOR_SET_OVERLAP, "A-array-set,A3"),
    QueryDef("trailing_median", q_trailing_median, ORACLE_TRAILING_MEDIAN,
             "X1-window-median"),
    QueryDef("funnel_stages", q_funnel_stages, ORACLE_FUNNEL_STAGES,
             "A-seq-funnel"),
    QueryDef("cohort_retention", q_cohort_retention, ORACLE_COHORT_RETENTION,
             "A-cohort,W-window"),
    QueryDef("late_shipment_audit", q_late_shipment_audit,
             ORACLE_LATE_SHIPMENT_AUDIT, "Q-double-exists,J2", bench=True),
    QueryDef("event_cooccurrence", q_event_cooccurrence,
             ORACLE_EVENT_COOCCURRENCE, "J-self,A-pairs"),
    QueryDef("mad_outliers", q_mad_outliers, ORACLE_MAD_OUTLIERS,
             "A-robust-mad,A-quantile", bench=True),
    QueryDef("event_transition_matrix", q_event_transition_matrix,
             ORACLE_EVENT_TRANSITIONS, "X-lag,A-seq"),
    QueryDef("revenue_gini", q_revenue_gini, ORACLE_REVENUE_GINI,
             "A-concentration,X-window"),
    QueryDef("revenue_gini_binned", q_revenue_gini_binned,
             ORACLE_REVENUE_GINI, "A-concentration,X-rank-twophase"),
    QueryDef("incremental_agg_merge", q_incremental_agg_merge,
             ORACLE_INCREMENTAL_AGG, "A-incremental-mv,U1"),
    QueryDef("variant_extract", q_variant_extract, ORACLE_VARIANT_EXTRACT,
             "T1: VARIANT semi-structured extraction"),
    QueryDef("sql_api_report", q_sql_api_report, ORACLE_SQL_API,
             "§2.7: pure spark.sql surface"),
    QueryDef("first_digit_profile", q_first_digit_profile,
             ORACLE_FIRST_DIGIT, "A-benford,T4"),
    QueryDef("key_skew_profile", q_key_skew_profile, ORACLE_KEY_SKEW,
             "A-skew-audit"),
    QueryDef("referential_integrity_audit", q_referential_integrity_audit,
             ORACLE_REFERENTIAL_INTEGRITY, "J-anti,A-integrity"),
    QueryDef("exact_quantiles_twopass", q_exact_quantiles_twopass,
             ORACLE_EXACT_QUANTILES, "A-quantile-select: 2-pass exact "
             "distributed selection, no global sort"),
    QueryDef("histogram_quantile_merge", q_histogram_quantile_merge,
             ORACLE_HISTOGRAM_QUANTILE_MERGE, "A-quantile-sketch-merge: "
             "mergeable partial histograms, integer interpolation"),
    QueryDef("capped_sessions", q_capped_sessions, ORACLE_CAPPED_SESSIONS,
             "A-session-capped: gap + duration-cap sessionization"),
    QueryDef("rank_twophase", q_rank_twophase, _oracle_rank_twophase(),
             "X-global-rank-twophase: offset + per-bucket window, "
             "no global sort"),
    QueryDef("kmv_set_ops", q_kmv_set_ops, _oracle_kmv_set_ops(),
             "A-sketch-set-algebra: KMV union/intersection, measured ppm"),
    QueryDef("rolling_mad_anomaly", q_rolling_mad_anomaly,
             ORACLE_ROLLING_MAD,
             "A-robust-rolling: trailing median/MAD anomaly flags"),
    QueryDef("udtf_polymorphic", q_udtf_polymorphic, ORACLE_UDTF_POLYMORPHIC,
             "S2.8-udtf-analyze: dynamic schema from constant args"),
    QueryDef("recursive_cte_hierarchy", q_recursive_cte_hierarchy,
             ORACLE_RECURSIVE_CTE,
             "S2.7-recursive-cte: declarative iterate-to-fixpoint"),
    QueryDef("observed_metrics_audit", q_observed_metrics_audit,
             ORACLE_OBSERVED_METRICS,
             "S-observe: single-pass pipeline metrics"),
    QueryDef("weekday_seasonality", q_weekday_seasonality,
             ORACLE_WEEKDAY_SEASONALITY,
             "A-seasonal: weekday decomposition, exact integers"),
    QueryDef("cusum_changepoint", q_cusum_changepoint,
             ORACLE_CUSUM_CHANGEPOINT,
             "A-changepoint: n-scaled integer CUSUM over bounded daily grain"),
    QueryDef("fd_violation_profile", q_fd_violation_profile,
             _oracle_fd_profile(),
             "A-profile: functional-dependency discovery, integer audit"),
    QueryDef("market_share", q_market_share, ORACLE_MARKET_SHARE,
             "J-star-7way: broadcast dim chains, one fact-fact shuffle",
             bench=True),
]
