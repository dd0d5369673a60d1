"""Structured Streaming ingest: watermarked dedup + partitioned sink with
availableNow trigger (the reference's scheduled-batch cadence, §2.9)."""

from __future__ import annotations

import json
import os

from nfl_data_engineering_spark.streaming.ingest import (deduped_stream,
                                                         keep_latest_stream,
                                                         read_event_stream,
                                                         windowed_counts_stream,
                                                         write_partitioned_stream)


def _write_events_json(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "batch.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


EVENTS = [
    {"event_id": 1, "ts": "2024-01-10T00:00:00.000Z", "user_id": 7,
     "event_type": "click", "value": 1.5},
    {"event_id": 1, "ts": "2024-01-10T00:00:00.000Z", "user_id": 7,
     "event_type": "click", "value": 1.5},        # exact duplicate (double-run)
    {"event_id": 2, "ts": "2024-02-01T00:00:00.000Z", "user_id": 8,
     "event_type": "view", "value": 2.0},
]


def test_stream_dedup_and_partitioned_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_events_json(src, EVENTS)

    stream = read_event_stream(spark, src)
    assert stream.isStreaming
    q = write_partitioned_stream(deduped_stream(stream, "2 days"), out, ckpt)
    q.awaitTermination(120)

    back = spark.read.parquet(out)
    assert back.count() == 2      # duplicate row collapsed
    assert os.path.isdir(os.path.join(out, "year=2024", "month=1"))
    assert os.path.isdir(os.path.join(out, "year=2024", "month=2"))

    # availableNow re-run over the same checkpoint is a no-op (exactly-once)
    q2 = write_partitioned_stream(deduped_stream(read_event_stream(spark, src),
                                                 "2 days"), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2


def test_keep_latest_stateful_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two files -> two microbatches (maxFilesPerTrigger=1); user 7's value
    # is re-collected in the second batch with a newer timestamp
    b1 = [{"event_id": 1, "ts": "2024-01-10T00:00:00.000Z", "user_id": 7,
           "event_type": "rank", "value": 10.0},
          {"event_id": 2, "ts": "2024-01-10T00:00:00.000Z", "user_id": 8,
           "event_type": "rank", "value": 20.0}]
    b2 = [{"event_id": 3, "ts": "2024-01-12T00:00:00.000Z", "user_id": 7,
           "event_type": "rank", "value": 11.5},
          # stale arrival for user 8 — older ts must NOT replace state
          {"event_id": 4, "ts": "2024-01-05T00:00:00.000Z", "user_id": 8,
           "event_type": "rank", "value": 19.0}]
    with open(os.path.join(src, "a_batch1.json"), "w") as f:
        for r in b1:
            f.write(json.dumps(r) + "\n")
    with open(os.path.join(src, "b_batch2.json"), "w") as f:
        for r in b2:
            f.write(json.dumps(r) + "\n")

    # one file per trigger -> two microbatches -> state must persist across
    stream = (read_event_stream(spark, src, max_files_per_trigger=1)
              .selectExpr("user_id", "ts", "value"))
    stream = stream.withWatermark("ts", "30 days")
    latest = keep_latest_stream(stream, ["user_id"], "ts", ["value"])
    q = (latest.writeStream.format("memory").queryName("kls")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    hist = spark.sql("SELECT * FROM kls").collect()
    # last emitted update per key == keep-latest state
    final = {}
    for r in hist:
        cur = final.get(r["user_id"])
        if cur is None or r["ts"] >= cur[0]:
            final[r["user_id"]] = (r["ts"], r["value"])
    assert final[7][1] == 11.5          # newer re-collection wins
    assert final[8][1] == 20.0          # stale arrival did not regress state


def test_keep_latest_tiebreak_at_equal_ts(spark, tmp_path):
    # two rows share the max ts; the greatest event_id must win in BOTH
    # arrival orders (without a tiebreak, "latest" would depend on which
    # microbatch/partition arrived first)
    for tag, batch1, batch2 in (
            ("fwd", [(1, 10.0)], [(2, 99.0)]),
            ("rev", [(2, 99.0)], [(1, 10.0)])):
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src)
        for name, rows in (("a.json", batch1), ("b.json", batch2)):
            with open(os.path.join(src, name), "w") as f:
                for eid, v in rows:
                    f.write(json.dumps(
                        {"event_id": eid,
                         "ts": "2024-01-10T00:00:00.000Z",
                         "user_id": 7, "event_type": "rank",
                         "value": v}) + "\n")
        stream = (read_event_stream(spark, src, max_files_per_trigger=1)
                  .selectExpr("user_id", "ts", "event_id", "value")
                  .withWatermark("ts", "30 days"))
        latest = keep_latest_stream(stream, ["user_id"], "ts", ["value"],
                                    tiebreak_cols=["event_id"])
        q = (latest.writeStream.format("memory").queryName(f"kls_{tag}")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        hist = spark.sql(
            f"SELECT * FROM kls_{tag} ORDER BY ts, event_id").collect()
        assert hist[-1]["value"] == 99.0, tag
        assert hist[-1]["event_id"] == 2, tag


def test_windowed_counts_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events_json(src, EVENTS)
    agg = windowed_counts_stream(read_event_stream(spark, src), "1 hour")
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    got = {(r["event_type"]): r["n"] for r in rows}
    assert got == {"click": 2, "view": 1}  # complete mode counts pre-watermark


def test_interval_join_streams(spark, tmp_path):
    from nfl_data_engineering_spark.streaming.ingest import interval_join_streams

    src = str(tmp_path / "src")
    _write_events_json(src, [
        {"event_id": 10, "ts": "2024-01-10T12:00:00.000Z", "user_id": 7,
         "event_type": "purchase", "value": 9.0},
        # click 30 min before the purchase -> joins
        {"event_id": 11, "ts": "2024-01-10T11:30:00.000Z", "user_id": 7,
         "event_type": "click", "value": 1.0},
        # click 2 h before -> outside the 1 h lookback
        {"event_id": 12, "ts": "2024-01-10T10:00:00.000Z", "user_id": 7,
         "event_type": "click", "value": 1.0},
        # click AFTER the purchase -> excluded (strict upper bound)
        {"event_id": 13, "ts": "2024-01-10T12:10:00.000Z", "user_id": 7,
         "event_type": "click", "value": 1.0},
        # other user's click in-window -> key mismatch, excluded
        {"event_id": 14, "ts": "2024-01-10T11:45:00.000Z", "user_id": 8,
         "event_type": "click", "value": 1.0},
    ])

    ev = read_event_stream(spark, src)
    purchases = ev.filter("event_type = 'purchase'")
    clicks = (ev.filter("event_type = 'click'")
              .select("user_id", "ts", "event_id"))
    joined = interval_join_streams(purchases, clicks, lookback="1 hour")
    q = (joined.writeStream.format("memory").queryName("ivj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id, event_id_r FROM ivj").collect()
    assert [(r["event_id"], r["event_id_r"]) for r in rows] == [(10, 11)]


def test_sliding_windowed_counts_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events_json(src, EVENTS)
    agg = windowed_counts_stream(read_event_stream(spark, src), "1 hour",
                                 slide="15 minutes")
    q = (agg.writeStream.format("memory").queryName("win_slide")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_slide").collect()
    # every event lands in window/slide = 4 overlapping windows
    per_type = {}
    for r in rows:
        per_type[r["event_type"]] = per_type.get(r["event_type"], 0) + r["n"]
    assert per_type == {"click": 2 * 4, "view": 1 * 4}


def test_enrich_stream_with_static_dim(spark, tmp_path):
    from nfl_data_engineering_spark.streaming.ingest import enrich_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_events_json(src, EVENTS)

    dim = spark.createDataFrame(
        [(7, "gold"), (9, "bronze")], "user_id long, tier string")
    enriched = enrich_stream(read_event_stream(spark, src), dim, "user_id")
    q = (enriched.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    back = spark.read.parquet(out)
    rows = {(r.user_id, r.tier) for r in back.collect()}
    # user 7 decorated; user 8 survives the left join with a null tier
    assert rows == {(7, "gold"), (8, None)}


def test_session_counts_stream_emits_closed_sessions(spark, tmp_path):
    from nfl_data_engineering_spark.streaming.ingest import session_counts_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_events_json(src, [
        {"event_id": 1, "ts": "2024-01-10T00:00:00.000Z", "user_id": 7,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-10T00:10:00.000Z", "user_id": 7,
         "event_type": "click", "value": 2.0},      # same session (<30 min gap)
        {"event_id": 3, "ts": "2024-03-01T00:00:00.000Z", "user_id": 7,
         "event_type": "click", "value": 9.0},      # advances watermark
    ])
    q = (session_counts_stream(read_event_stream(spark, src))
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    back = spark.read.parquet(out).collect()
    # only the January session closed before the watermark; the March
    # session is still open in state and correctly withheld
    assert len(back) == 1
    r = back[0]
    assert (r.user_id, r.n_events, r.sum_value) == (7, 2, 3.0)
    assert str(r.session_start).startswith("2024-01-10 00:00")
    assert str(r.session_end).startswith("2024-01-10 00:40")


def test_upsert_stream_keeps_latest_across_batches(spark, tmp_path):
    from nfl_data_engineering_spark.streaming.ingest import upsert_stream

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # two files -> two microbatches (maxFilesPerTrigger=1); user 7 value is
    # re-collected with a newer timestamp in the second batch
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"event_id": 1, "ts": "2024-01-10T00:00:00.000Z",
                            "user_id": 7, "event_type": "snap", "value": 1.0}) + "\n")
        f.write(json.dumps({"event_id": 2, "ts": "2024-01-10T00:00:00.000Z",
                            "user_id": 8, "event_type": "snap", "value": 5.0}) + "\n")
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write(json.dumps({"event_id": 3, "ts": "2024-01-11T00:00:00.000Z",
                            "user_id": 7, "event_type": "snap", "value": 2.0}) + "\n")

    q = upsert_stream(read_event_stream(spark, src, max_files_per_trigger=1),
                      table, ckpt, key_cols=["user_id"])
    q.awaitTermination(120)

    back = spark.read.parquet(table)
    rows = {(r.user_id, r.value) for r in back.collect()}
    assert rows == {(7, 2.0), (8, 5.0)}     # user 7 upserted to newest

    # replaying the same source over the same checkpoint is a no-op
    q2 = upsert_stream(read_event_stream(spark, src, max_files_per_trigger=1),
                       table, ckpt, key_cols=["user_id"])
    q2.awaitTermination(120)
    assert {(r.user_id, r.value) for r in spark.read.parquet(table).collect()} \
        == {(7, 2.0), (8, 5.0)}
