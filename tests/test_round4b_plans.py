"""Semantic tests for catalog entries (beyond the DuckDB
parity gate): distributed exact selection, mergeable histogram quantiles,
the file-stats manifest, interval-overlap join, priority sampling, and the
multi-batch streaming backfill."""

from __future__ import annotations

import os

import pyspark.sql.functions as F


from nfl_data_engineering_spark.plans import base, training as T  # noqa: E402
from nfl_data_engineering_spark.plans.connectors import (  # noqa: E402
    MANIFEST_HI, MANIFEST_LO, q_file_stats_manifest)
from nfl_data_engineering_spark.plans.lakeops import (  # noqa: E402
    _ERR_LEN_US, _PUR_LEN_US, q_interval_overlap_join)
from nfl_data_engineering_spark.plans.relational import (  # noqa: E402
    QSEL_PCTS, q_exact_quantiles_twopass, q_histogram_quantile_merge)

SF = "/root/testdata/sf0.001"


def test_exact_quantiles_match_sorted_truth(spark):
    rows = {r["pct"]: r for r in q_exact_quantiles_twopass(spark, SF).collect()}
    vals = sorted(
        int(round(r["l_extendedprice"] * 100)) for r in
        spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
        .select("l_extendedprice").collect())
    n = len(vals)
    assert set(rows) == set(QSEL_PCTS)
    for q in QSEL_PCTS:
        k = (n * q + 99) // 100           # the pinned rank convention
        assert rows[q]["value_cents"] == vals[k - 1]
        assert rows[q]["n_rows"] == n
    # order statistics are monotone in the rank
    got = [rows[q]["value_cents"] for q in sorted(QSEL_PCTS)]
    assert got == sorted(got)


def test_histogram_merge_is_lossless_and_estimate_is_in_bin(spark):
    rows = {r["pct"]: r for r in
            q_histogram_quantile_merge(spark, SF).collect()}
    assert set(rows) == {50, 90}
    vals = sorted(
        int(round(r["o_totalprice"] * 100)) for r in
        spark.read.parquet(os.path.join(SF, "orders.parquet"))
        .select("o_totalprice").collect())
    n = len(vals)
    for q, r in rows.items():
        assert r["bins_mismatched"] == 0   # the merge law itself
        exact = vals[(n * q + 99) // 100 - 1]
        # interpolated estimate lands within one bin width of the truth
        assert abs(r["est_cents"] - exact) <= 500_000


def test_file_stats_manifest_prunes_correctly(spark):
    rows = q_file_stats_manifest(spark, SF).collect()
    n_orders = spark.read.parquet(os.path.join(SF, "orders.parquet")).count()
    assert sum(r["n_rows"] for r in rows) == n_orders
    assert all(r["n_files"] == 1 for r in rows)      # layout under test
    for r in rows:
        assert r["min_cents"] <= r["max_cents"]
        intersects = (r["min_cents"] <= MANIFEST_HI
                      and r["max_cents"] >= MANIFEST_LO)
        assert r["would_read"] == intersects
        if not r["would_read"]:
            assert r["n_matching"] == 0              # skipping is safe
    # the predicate must NOT degenerate to all-read or all-skip
    flags = {r["would_read"] for r in rows}
    assert flags == {True, False}


def test_interval_overlap_matches_quadratic_truth(spark):
    row = q_interval_overlap_join(spark, SF).collect()[0]
    ev = (spark.read.parquet(os.path.join(SF, "events.parquet"))
          .select("event_id", "ts", "event_type").collect())

    def us(t):
        return int(t.timestamp() * 1_000_000) if hasattr(t, "timestamp") \
            else int(t)
    a = [(us(r["ts"]), us(r["ts"]) + _ERR_LEN_US) for r in ev
         if r["event_type"] == "error"]
    b = [(us(r["ts"]), us(r["ts"]) + _PUR_LEN_US) for r in ev
         if r["event_type"] == "purchase"]
    ovs = [min(ea, eb) - max(sa, sb)
           for sa, ea in a for sb, eb in b if sa < eb and sb < ea]
    assert row["n_pairs"] == len(ovs)
    assert row["sum_overlap_us"] == sum(ovs)
    assert row["max_overlap_us"] == max(ovs)


def test_priority_sample_is_exact_k_and_weight_biased(spark):
    rows = T.q_priority_sample_weighted(spark, SF).collect()
    assert sum(r["n_selected"] for r in rows) == T.PRIORITY_SAMPLE_K
    # ppm shares sum to ~1e6 (floor-division slack < one ppm per source)
    assert abs(sum(r["selected_share_ppm"] for r in rows) - 1_000_000) \
        <= len(rows)
    assert abs(sum(r["weight_share_ppm"] for r in rows) - 1_000_000) \
        <= len(rows)
    # proportional-to-weight, coarsely: aggregate the top-weight half of
    # sources; their sample share must exceed the bottom half's
    ordered = sorted(rows, key=lambda r: -r["weight_share_ppm"])
    half = len(ordered) // 2
    top = sum(r["selected_share_ppm"] for r in ordered[:half])
    bottom = sum(r["selected_share_ppm"] for r in ordered[half:])
    assert top > bottom


def test_capped_sessions_conserves_events_and_caps_duration(spark):
    from nfl_data_engineering_spark.plans.relational import (
        SESSION_CAP_US, SESSION_GAP_US, q_capped_sessions)
    rows = q_capped_sessions(spark, SF).collect()
    total_events = sum(r["n_events"] * r["n_subsessions"] for r in rows)
    n_events = spark.read.parquet(os.path.join(SF, "events.parquet")).count()
    assert total_events == n_events       # every event in exactly one sub

    # recompute sub-sessions in python and check the cap invariant:
    # within a sub-session, max(ts) - min(ts) < cap
    ev = (spark.read.parquet(os.path.join(SF, "events.parquet"))
          .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
          .collect())
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(
            int(r["ts"].timestamp() * 1_000_000))
    sizes = []
    for times in by_user.values():
        times.sort()
        sess_start = None
        prev = None
        subs: dict = {}
        sess = 0
        for t in times:
            if prev is None or t - prev > SESSION_GAP_US:
                sess += 1
                sess_start = t
            sub = (t - sess_start) // SESSION_CAP_US
            subs.setdefault((sess, sub), []).append(t)
            prev = t
        for ts_list in subs.values():
            assert max(ts_list) - min(ts_list) < SESSION_CAP_US
            sizes.append(len(ts_list))
    from collections import Counter
    want = Counter(sizes)
    got = {r["n_events"]: r["n_subsessions"] for r in rows}
    assert got == dict(want)


def test_weekday_seasonality_balances(spark):
    from nfl_data_engineering_spark.plans.relational import (
        q_weekday_seasonality)
    rows = q_weekday_seasonality(spark, SF).collect()
    assert sorted(r["weekday"] for r in rows) == list(range(7))
    o = (spark.read.parquet(os.path.join(SF, "orders.parquet"))
         .select(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("t")).collect()[0])
    assert sum(r["total_cents"] for r in rows) == o["t"]
    for r in rows:
        assert r["mean_cents"] == r["total_cents"] // r["n_days"]
    # day-count-weighted offsets sum to ~0: each per-weekday floor loses
    # < n_days cents and the global floor adds < total days, so the
    # worst-case imbalance is < 2 * total days
    slack = sum(r["n_days"] for r in rows)
    assert abs(sum(r["offset_cents"] * r["n_days"] for r in rows)) < 2 * slack


def test_rank_twophase_is_the_global_permutation(spark):
    from pyspark.sql import Window
    from nfl_data_engineering_spark.functions.hashing import h60
    from nfl_data_engineering_spark.plans.relational import q_rank_twophase
    row = q_rank_twophase(spark, SF).collect()[0]
    n = row["n_rows"]
    assert row["sum_rank"] == n * (n + 1) // 2     # a true permutation
    # the checksum must equal the one computed by a plain global window
    li = (spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
          .select(F.round(F.col("l_extendedprice") * 100).cast("bigint")
                  .alias("c"), "l_orderkey", "l_linenumber"))
    key = F.concat(F.col("l_orderkey").cast("string"), F.lit("_"),
                   F.col("l_linenumber").cast("string"))
    w = Window.orderBy("c", "l_orderkey", "l_linenumber")
    truth = (li.withColumn("rank", F.row_number().over(w))
             .agg(F.sum(F.col("rank") * (h60(key) % 1000)).alias("cs"))
             .collect()[0]["cs"])
    assert row["rank_checksum"] == truth


def test_kmv_set_ops_estimates_track_exact(spark):
    from nfl_data_engineering_spark.plans.relational import q_kmv_set_ops
    rows = {r["set_name"]: r for r in q_kmv_set_ops(spark, SF).collect()}
    assert set(rows) == {"view", "click", "union", "intersection"}
    # inclusion-exclusion holds by construction
    assert rows["intersection"]["est"] == (rows["view"]["est"]
                                           + rows["click"]["est"]
                                           - rows["union"]["est"])
    # K=64 -> stderr ~ 1/sqrt(62) ~ 13%; allow 4 sigma on the direct
    # sketches (intersection inherits three errors, checked above)
    for name in ("view", "click", "union"):
        r = rows[name]
        assert abs(r["est"] - r["exact_distinct"]) \
            <= max(0.52 * r["exact_distinct"], 2)


def test_python_datasource_sink_manifest_accounts_every_row(spark, tmp_path):
    import json
    from nfl_data_engineering_spark.sources.datasource import (
        register_jsonl_sink)
    register_jsonl_sink(spark)
    ev = (spark.read.parquet(os.path.join(SF, "events.parquet"))
          .select("event_id", "event_type").repartition(5))
    out = str(tmp_path / "sink")
    os.makedirs(out)
    ev.write.format("jsonl_dir").mode("append").option("path", out).save()
    man = json.load(open(os.path.join(out, "_manifest.json")))
    assert man["total_rows"] == ev.count()
    assert len(man["files"]) == 5                 # one file per task
    assert sum(f["rows"] for f in man["files"]) == man["total_rows"]
    back = spark.read.schema("event_id bigint, event_type string").json(out)
    assert back.count() == ev.count()             # manifest invisible to read
    assert (back.select(F.sum("event_id")).collect()[0][0]
            == ev.select(F.sum("event_id")).collect()[0][0])


def test_rolling_mad_matches_python_recompute(spark):
    from nfl_data_engineering_spark.plans.relational import (
        MAD_WIN_DAYS, q_rolling_mad_anomaly)
    rows = sorted(q_rolling_mad_anomaly(spark, SF).collect(),
                  key=lambda r: r["day"])
    daily = sorted(
        (r["day"], r["c"]) for r in
        spark.read.parquet(os.path.join(SF, "orders.parquet"))
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
             .alias("c")).collect())
    assert len(rows) == len(daily)
    vals = [c for _, c in daily]
    for i, r in enumerate(rows):
        fr = sorted(vals[max(0, i - MAD_WIN_DAYS + 1):i + 1])
        med = fr[(len(fr) + 1) // 2 - 1]
        devs = sorted(abs(x - med) for x in fr)
        mad = devs[(len(devs) + 1) // 2 - 1]
        assert r["med_cents"] == med
        assert r["mad_cents"] == mad
        assert r["is_anomaly"] == (abs(vals[i] - med) > 3 * mad)


def test_cogrouped_asof_covers_every_purchase_once(spark):
    rows = T.q_cogrouped_asof_pandas(spark, SF).collect()
    ev = (spark.read.parquet(os.path.join(SF, "events.parquet"))
          .select("event_id", "user_id", "event_type",
                  F.col("ts").cast("timestamp").alias("ts")).collect())
    purchases = [r for r in ev if r["event_type"] == "purchase"]
    assert sorted(r["p_id"] for r in rows) == \
        sorted(r["event_id"] for r in purchases)
    clicks_by_user: dict = {}
    for r in ev:
        if r["event_type"] == "click":
            clicks_by_user.setdefault(r["user_id"], []).append(
                (int(r["ts"].timestamp() * 1e6), r["event_id"]))
    by_pid = {r["p_id"]: r for r in rows}
    for p in purchases:
        pus = int(p["ts"].timestamp() * 1e6)
        cands = [(us, cid) for us, cid in
                 clicks_by_user.get(p["user_id"], []) if us <= pus]
        got = by_pid[p["event_id"]]
        if not cands:
            assert got["c_id"] is None and got["gap_us"] is None
        else:
            us, cid = max(cands)          # (ts, id) total order
            assert got["c_id"] == cid
            assert got["gap_us"] == pus - us


def test_late_drop_processed_three_batches_and_dropped_late(spark):
    out = {r["day"]: r["n"] for r in
           T.q_streaming_late_data_drop(spark, SF).collect()}
    fed = [p for p in base.LAST_DRAIN_PROGRESS if p["numInputRows"]]
    assert len(fed) == 3                  # events, sentinel, late batch
    assert fed[2]["numInputRows"] > 0     # the late file WAS read...
    batch = (spark.read.parquet(os.path.join(SF, "events.parquet"))
             .groupBy(F.date_trunc("day", F.col("ts").cast("timestamp"))
                      .alias("day"))
             .agg(F.count("*").alias("n")).collect())
    assert len(batch) == len(out)
    for r in batch:                       # ...and fully discarded
        assert out[r["day"]] == r["n"]


def test_polymorphic_udtf_schema_tracks_n(spark):
    from pyspark.sql.functions import lit, udtf
    from nfl_data_engineering_spark.functions.udtfs import FirstTokens
    fn = udtf(FirstTokens)
    df = fn(lit("a b c d e f"), lit(5))
    assert df.columns == ["tok_1", "tok_2", "tok_3", "tok_4", "tok_5"]
    assert df.collect()[0].asDict() == {
        "tok_1": "a", "tok_2": "b", "tok_3": "c", "tok_4": "d",
        "tok_5": "e"}
    short = fn(lit("only two"), lit(3)).collect()[0]
    assert short.asDict() == {"tok_1": "only", "tok_2": "two",
                              "tok_3": None}


def test_recursive_cte_depths_match_digit_tree(spark):
    from nfl_data_engineering_spark.plans.relational import (
        q_recursive_cte_hierarchy)
    rows = {r["depth"]: r for r in
            q_recursive_cte_hierarchy(spark, SF).collect()}
    keys = [r["c_custkey"] for r in
            spark.read.parquet(os.path.join(SF, "customer.parquet"))
            .select("c_custkey").collect()]
    from collections import Counter
    want = Counter(len(str(k)) - 1 for k in keys)   # depth = digits - 1
    assert {d: r["n_customers"] for d, r in rows.items()} == dict(want)
    assert sum(r["n_customers"] for r in rows.values()) == len(keys)
    assert rows[0]["n_roots"] == rows[0]["n_customers"]  # roots are depth 0


def test_observed_metrics_equal_direct_aggregation(spark):
    from nfl_data_engineering_spark.plans.relational import (
        q_observed_metrics_audit)
    row = q_observed_metrics_audit(spark, SF).collect()[0]
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    assert row["n_input"] == li.count()
    assert row["n_returned"] == li.filter(F.col("l_returnflag") == "R").count()
    kept = li.filter((F.col("l_returnflag") != "R")
                     & (F.col("l_discount") > 0))
    assert row["n_kept"] == kept.count()
    want = kept.agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                    .cast("double")).collect()[0][0]
    assert row["sum_kept_price"] == want


def test_full_outer_stream_join_superset_of_left_outer(spark):
    fo = T.q_streaming_full_outer_join(spark, SF).collect()
    # left-outer rows (every purchase present) are a subset; the extras
    # are exactly the never-matched clicks, null-padded on the left
    ev = (spark.read.parquet(os.path.join(SF, "events.parquet"))
          .select("event_id", "user_id", "event_type",
                  F.col("ts").cast("timestamp").alias("ts")).collect())
    purchases = {r["event_id"] for r in ev if r["event_type"] == "purchase"}
    clicks = [r for r in ev if r["event_type"] == "click"]
    got_p = {r["purchase_event_id"] for r in fo
             if r["purchase_event_id"] is not None}
    assert got_p == purchases
    matched_clicks = {r["click_event_id"] for r in fo
                      if r["purchase_event_id"] is not None
                      and r["click_event_id"] is not None}
    unmatched_rows = [r for r in fo if r["purchase_event_id"] is None]
    assert {r["click_event_id"] for r in unmatched_rows} == \
        {c["event_id"] for c in clicks} - matched_clicks
    for r in unmatched_rows:                  # null-padded left side
        assert r["purchase_ts"] is None and r["user_id"] is not None


def test_checkpoint_restart_neither_replays_nor_drops(spark):
    out = {r["day"]: r["n"] for r in
           T.q_streaming_checkpoint_restart(spark, SF).collect()}
    batch = (spark.read.parquet(os.path.join(SF, "events.parquet"))
             .groupBy(F.date_trunc("day", F.col("ts").cast("timestamp"))
                      .alias("day"))
             .agg(F.count("*").alias("n")).collect())
    assert len(batch) == len(out)
    for r in batch:
        assert out[r["day"]] == r["n"]


def test_vocab_coverage_is_monotone_and_clamped(spark):
    rows = {r["k"]: r for r in T.q_vocab_coverage_curve(spark, SF).collect()}
    assert set(rows) == set(T.COVERAGE_KS)
    covs = [rows[k]["coverage_ppm"] for k in sorted(rows)]
    assert covs == sorted(covs)               # more vocab, more coverage
    assert all(0 < c <= 1_000_000 for c in covs)
    vs = rows[min(rows)]["vocab_size"]
    for k, r in rows.items():
        if k >= vs:                           # clamped probes cover all
            assert r["coverage_ppm"] == 1_000_000


def test_length_bucketing_beats_global_padding(spark):
    rows = T.q_length_bucketing_waste(spark, SF).collect()
    n_docs = spark.read.parquet(
        os.path.join(SF, "documents.parquet")).count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        # bucket max lives inside the bucket's width band
        assert r["bucket"] * T.LEN_BUCKET_W <= r["max_tok"] \
            < (r["bucket"] + 1) * T.LEN_BUCKET_W
        assert 0 <= r["waste_ppm"] < 1_000_000
    # bucketed padding strictly beats padding everything to global max
    gmax = max(r["max_tok"] for r in rows)
    total_tok = sum(r["sum_tok"] for r in rows)
    global_waste = (gmax * n_docs - total_tok) * 1_000_000 // (gmax * n_docs)
    bucketed = sum(r["max_tok"] * r["n_docs"] for r in rows)
    bucketed_waste = (bucketed - total_tok) * 1_000_000 // bucketed
    assert bucketed_waste < global_waste


def test_multibatch_backfill_ran_multiple_batches(spark):
    out = {r["day"]: r for r in
           T.q_streaming_multibatch_backfill(spark, SF).collect()}
    fed = [p for p in base.LAST_DRAIN_PROGRESS if p["numInputRows"] > 0]
    assert len(fed) >= T.BACKFILL_CHUNKS
    batch = (spark.read.parquet(os.path.join(SF, "events.parquet"))
             .groupBy(F.date_trunc("day", F.col("ts").cast("timestamp"))
                      .alias("day"))
             .agg(F.count("*").alias("n")).collect())
    assert len(batch) == len(out)
    for r in batch:
        assert out[r["day"]]["n"] == r["n"]


def test_cusum_changepoint_matches_recomputation(spark):
    from nfl_data_engineering_spark.plans.relational import (
        q_cusum_changepoint)
    rows = q_cusum_changepoint(spark, SF).collect()
    assert len(rows) == 5
    # independent recomputation of the n-scaled CUSUM from raw orders
    daily = {}
    for r in (spark.read.parquet(os.path.join(SF, "orders.parquet"))
              .select(F.date_trunc("day", "o_orderdate").alias("day"),
                      F.round(F.col("o_totalprice") * 100).cast("bigint")
                      .alias("c")).collect()):
        daily[r["day"]] = daily.get(r["day"], 0) + r["c"]
    days = sorted(daily)
    n, total = len(days), sum(daily.values())
    prefix, truth = 0, []
    for i, d in enumerate(days, start=1):
        prefix += daily[d]
        truth.append((d, i, daily[d], n * prefix - i * total))
    # S_n is identically zero by construction (n*total - n*total)
    assert truth[-1][3] == 0
    want = sorted(truth, key=lambda t: (-abs(t[3]), t[0]))[:5]
    got = [(r["day"], r["i"], r["day_cents"], r["s_scaled"]) for r in rows]
    assert got == want


def test_fd_profile_flags_are_consistent(spark):
    from nfl_data_engineering_spark.plans.relational import (
        _FD_CANDIDATES, q_fd_violation_profile)
    rows = {r["fd"]: r for r in q_fd_violation_profile(spark, SF).collect()}
    assert len(rows) == len(_FD_CANDIDATES)
    for r in rows.values():
        assert (r["holds"] == 1) == (r["n_violating"] == 0)
        assert (r["holds"] == 1) == (r["max_rhs_per_group"] == 1)
        assert 0 <= r["n_violating"] <= r["n_groups"]
    # a key column determines everything: custkey -> nationkey must hold
    assert rows["customer: c_custkey -> c_nationkey"]["holds"] == 1
    # and its group count is the distinct key count
    ncust = (spark.read.parquet(os.path.join(SF, "customer.parquet"))
             .select("c_custkey").distinct().count())
    assert rows["customer: c_custkey -> c_nationkey"]["n_groups"] == ncust


def test_market_share_plan_is_broadcast_star(spark):
    """The scale claim: all six dimension joins broadcast; the ONLY
    shuffle join in the plan is the lineitem x orders fact-fact key."""
    from nfl_data_engineering_spark.plans.relational import q_market_share
    df = q_market_share(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 6
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1
    rows = df.collect()
    assert rows == sorted(rows, key=lambda r: r["o_year"])
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert r["nation_revenue"] <= r["total_revenue"]
