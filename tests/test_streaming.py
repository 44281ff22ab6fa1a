"""Structured Streaming tests: checkpointed exactly-once ingest with
bizId dedup (ST1/ST6), and parity of the windowed aggregations between
batch and streaming execution."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tests.yelp_fixtures import make_results, write_ndjson
from yelp_data_engineering_pipeline_spark.streaming.ingest import run_ingest_available_now
from yelp_data_engineering_pipeline_spark.streaming.windows import tumbling_agg


def test_streaming_ingest_dedup_and_resume(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()
    rows = make_results(30, seed=5)
    write_ndjson(rows, in_dir / "batch1.ndjson")
    # duplicate 10 of them in a second file → dedup must drop them
    write_ndjson(rows[:10], in_dir / "batch2.ndjson")

    run_ingest_available_now(spark, str(in_dir), str(out_dir), str(ckpt))
    got = spark.read.parquet(str(out_dir))
    assert got.count() == 30
    assert got.select("bizId").distinct().count() == 30

    # restart with new + already-seen input: only the 5 new survive
    write_ndjson(rows[:5], in_dir / "batch3.ndjson")  # dup file content, new filename
    write_ndjson(make_results(40, seed=6)[30:], in_dir / "batch4.ndjson")  # hm: ids overlap seed
    run_ingest_available_now(spark, str(in_dir), str(out_dir), str(ckpt))
    got2 = spark.read.parquet(str(out_dir))
    assert got2.select("bizId").distinct().count() == got2.count()
    assert got2.count() >= 30


def test_tumbling_window_streaming_matches_batch(spark, tmp_path, sf_dir):
    """The window() expression plans identically in batch and streaming;
    feed the same events through a file stream and compare."""
    from yelp_data_engineering_pipeline_spark.tables import load

    events = load(spark, sf_dir, "events")
    batch_result = {
        (r["win_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_agg(events).collect()
    }

    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    with (in_dir / "events.ndjson").open("w") as f:
        for r in events.collect():
            f.write(
                json.dumps(
                    {
                        "event_id": r["event_id"],
                        "ts": _iso_utc(r["ts"]),
                        "user_id": r["user_id"],
                        "event_type": r["event_type"],
                        "value": r["value"],
                    }
                )
                + "\n"
            )

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .json(str(in_dir))
        .withWatermark("ts", "1 hour")
    )
    q = (
        tumbling_agg(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_result = {
        (r["win_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert stream_result == batch_result


def test_stateful_running_stats(spark, tmp_path, sf_dir):
    """applyInPandasWithState: running per-user stats across two
    micro-batches accumulate (state survives between triggers)."""
    from yelp_data_engineering_pipeline_spark.streaming.stateful import running_user_stats
    from yelp_data_engineering_pipeline_spark.tables import load

    events = load(spark, sf_dir, "events").select("user_id", "value")
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 2))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }

    in_dir = tmp_path / "sin"
    in_dir.mkdir()
    rows = events.collect()
    half = len(rows) // 2
    for name, chunk in [("a.ndjson", rows[:half]), ("b.ndjson", rows[half:])]:
        with (in_dir / name).open("w") as f:
            for r in chunk:
                f.write(json.dumps({"user_id": r["user_id"], "value": r["value"]}) + "\n")

    stream = spark.readStream.schema("user_id long, value double").option(
        "maxFilesPerTrigger", "1"
    ).json(str(in_dir))
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode memory sink holds one row per (user, batch); n_events
    # is monotone, so the max row per user is the final state
    final = {}
    for r in spark.sql("SELECT * FROM stateful_test").collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], round(r["total_value"], 2))
    assert final == expected


def test_dedup_within_watermark(spark, tmp_path):
    """Continuous-pipeline dedup variant: dropDuplicatesWithinWatermark
    bounds state by the late-data horizon instead of full key
    cardinality (ingest.py dedup_stream(watermark=...))."""
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        dedup_stream,
        read_results_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows = make_results(20, seed=9)
    write_ndjson(rows + rows[:7], in_dir / "b1.ndjson")  # 7 in-stream dups

    stream = dedup_stream(read_results_stream(spark, str(in_dir)), watermark="10 minutes")
    q = (
        stream.writeStream.format("memory")
        .queryName("wmdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT bizId FROM wmdedup")
    assert got.count() == 20
    assert got.distinct().count() == 20


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermarked windowed agg must finalize windows and DROP events
    arriving past the late-data horizon — the state-bounding contract a
    continuous 100 TB pipeline relies on."""
    import json as _json

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()

    def write_events(path, rows):
        with open(path, "w") as f:
            for ts, v in rows:
                _json.dump({"ts": ts, "v": v}, f)
                f.write("\n")

    # batch 1: events up to 12:00 -> watermark advances to 11:50
    write_events(in_dir / "b1.ndjson", [("2024-01-01 10:05:00", 1.0), ("2024-01-01 12:00:00", 2.0)])

    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .json(str(in_dir))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.expr("unix_micros(w.start) div 1000000").alias("w_start"), "n")
    )

    out_dir = tmp_path / "out"

    def drain():
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [(r["w_start"], r["n"]) for r in spark.read.parquet(str(out_dir)).collect()]

    got1 = drain()
    # the 10:00 window is final (watermark passed 11:00); a late event
    # for it must be discarded on the next drain
    write_events(in_dir / "b2.ndjson", [("2024-01-01 10:30:00", 9.9)])
    got2 = drain()
    from datetime import datetime, timezone

    ten_am = int(datetime(2024, 1, 1, 10, tzinfo=timezone.utc).timestamp())
    assert (ten_am, 1) in got1  # finalized with the on-time event only
    # the output dir accumulates across drains; the late arrival must add
    # NOTHING — no reopened window row, no updated count
    assert sorted(got2) == sorted(got1)


def test_foreachbatch_upsert_maintains_dimension(spark, tmp_path):
    """Streaming → foreachBatch → merge_upsert: the streaming analogue
    of the reference's incremental DB load (parse_and_upload_to_db.py
    upsert loop). Each micro-batch merges into a parquet-backed
    dimension by natural key; a re-delivered key updates in place
    instead of duplicating."""
    import json

    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators.upsert import merge_upsert

    in_dir = tmp_path / "in"
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    def write_batch(name, rows):
        (in_dir / name).write_text("\n".join(json.dumps(r) for r in rows))

    # batch 1: two keys; batch 2: one novel key + one update for k1
    write_batch("b1.json", [{"k": "k1", "v": 1}, {"k": "k2", "v": 2}])

    schema = "k string, v long"

    def upsert_batch(batch_df, batch_id):
        import os

        spark_ = batch_df.sparkSession
        if os.path.isdir(state_dir):
            existing = spark_.read.parquet(state_dir)
            merged = merge_upsert(existing, batch_df.dropDuplicates(["k"]), "k")
        else:
            merged = batch_df.dropDuplicates(["k"])
        # rewrite via a temp dir: the merge reads the same path it
        # replaces, so collect the small dim to break the dependency
        rows = merged.collect()
        spark_.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(state_dir)

    def drain():
        q = (
            spark.readStream.schema(schema)
            .json(str(in_dir))
            .writeStream.foreachBatch(upsert_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    state = {r.k: r.v for r in spark.read.parquet(state_dir).collect()}
    assert state == {"k1": 1, "k2": 2}

    write_batch("b2.json", [{"k": "k1", "v": 10}, {"k": "k3", "v": 3}])
    drain()
    state = {r.k: r.v for r in spark.read.parquet(state_dir).collect()}
    # k1 updated in place, k2 untouched, k3 inserted — and exactly once:
    assert state == {"k1": 10, "k2": 2, "k3": 3}
    assert spark.read.parquet(state_dir).groupBy("k").count().filter(
        F.col("count") > 1
    ).count() == 0

    # re-drain with nothing new: checkpoint makes it a no-op (ST1/ST6)
    drain()
    assert {r.k: r.v for r in spark.read.parquet(state_dir).collect()} == {
        "k1": 10,
        "k2": 2,
        "k3": 3,
    }



def _iso_utc(ts):
    """Serialize a COLLECTED timestamp for a JSON stream source
    tz-unambiguously: collect() returns naive datetimes in the
    DRIVER'S SYSTEM zone, while the stream source re-parses bare
    strings in the SESSION zone (UTC) — on a non-UTC host the naive
    isoformat round-trip shifts every instant and the
    streaming-vs-batch differentials break (bit the r12 full-suite
    run under TZ=America/New_York). An explicit offset pins the
    instant under any host zone."""
    import datetime as _dt

    return ts.astimezone(_dt.timezone.utc).isoformat()

def _events_to_ndjson(events, path, cols=("event_id", "user_id", "event_type", "value")):
    with path.open("w") as f:
        for r in events.collect():
            rec = {c: r[c] for c in cols if c in r.asDict()}
            rec["ts"] = _iso_utc(r["ts"])
            f.write(json.dumps(rec) + "\n")


def test_sliding_window_streaming_matches_batch(spark, tmp_path, sf_dir):
    """sliding_agg plans incrementally: same (window, n, avg) set from a
    watermarked file stream as from the batch formulation."""
    from yelp_data_engineering_pipeline_spark.streaming.windows import sliding_agg
    from yelp_data_engineering_pipeline_spark.tables import load

    events = load(spark, sf_dir, "events")
    expected = {
        (r["win_start"], r["n"], round(r["avg_value"], 6))
        for r in sliding_agg(events).collect()
    }
    in_dir = tmp_path / "slide"
    in_dir.mkdir()
    _events_to_ndjson(events, in_dir / "events.ndjson")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    stream = (
        spark.readStream.schema(schema).json(str(in_dir)).withWatermark("ts", "1 hour")
    )
    q = (
        sliding_agg(stream)
        .writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["win_start"], r["n"], round(r["avg_value"], 6))
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    assert got == expected


def test_approx_distinct_window_streaming_matches_batch(spark, tmp_path, sf_dir):
    """The streamable sketch path of stream_window_approx_distinct
    drains through a real writeStream: HLL++ register merges are
    order-invariant, so the sketch merged across micro-batches must be
    BIT-IDENTICAL to the batch sketch per hour bucket — and still honor
    the catalog entry's 5%-or-±2 contract against the batch exact count
    (exact COUNT DISTINCT itself is not streamable)."""
    from yelp_data_engineering_pipeline_spark.streaming.windows import (
        approx_distinct_hourly,
        window_approx_distinct,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    events = load(spark, sf_dir, "events")
    expected = {
        (r["bucket_hour"], r["approx_users"])
        for r in approx_distinct_hourly(events).collect()
    }
    batch_exact = {
        r["bucket_hour"]: r["exact_users"]
        for r in window_approx_distinct(events).collect()
    }
    in_dir = tmp_path / "adw"
    in_dir.mkdir()
    # two files + maxFilesPerTrigger=1 → the merge path actually runs
    rows = events.collect()
    half = len(rows) // 2
    for name, chunk in [("a.ndjson", rows[:half]), ("b.ndjson", rows[half:])]:
        with (in_dir / name).open("w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "event_id": r["event_id"],
                            "ts": _iso_utc(r["ts"]),
                            "user_id": r["user_id"],
                            "event_type": r["event_type"],
                            "value": r["value"],
                        }
                    )
                    + "\n"
                )

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(in_dir))
    )
    q = (
        approx_distinct_hourly(stream)
        .writeStream.format("memory")
        .queryName("adw_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM adw_test").collect()
    got = {(r["bucket_hour"], r["approx_users"]) for r in rows}
    assert got == expected  # streamed HLL merge == batch sketch
    for r in rows:  # the catalog entry's bound holds for the streamed sketch
        exact = batch_exact[r["bucket_hour"]]
        assert abs(r["approx_users"] - exact) <= max(exact * 0.05, 2.0)


def test_stream_stream_join_matches_batch(spark, tmp_path, sf_dir):
    """Watermarked stream-stream interval join: the attribution pairs
    from a real two-sided streaming join equal the batch formulation."""
    from yelp_data_engineering_pipeline_spark.streaming.windows import attribution_pairs
    from yelp_data_engineering_pipeline_spark.tables import load

    events = load(spark, sf_dir, "events")
    views_b = events.filter(F.col("event_type") == "view")
    clicks_b = events.filter(F.col("event_type") == "click")
    expected = {
        (r["click_id"], r["view_id"])
        for r in attribution_pairs(views_b, clicks_b).collect()
    }
    assert expected  # non-vacuous

    in_dir = tmp_path / "ssj"
    in_dir.mkdir()
    with (in_dir / "events.ndjson").open("w") as f:
        for r in events.filter(F.col("event_type").isin("view", "click")).collect():
            f.write(
                json.dumps(
                    {
                        "event_id": r["event_id"],
                        "ts": _iso_utc(r["ts"]),
                        "user_id": r["user_id"],
                        "event_type": r["event_type"],
                    }
                )
                + "\n"
            )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    def side(t):
        return (
            spark.readStream.schema(schema)
            .json(str(in_dir))
            .filter(F.col("event_type") == t)
            .withWatermark("ts", "1 hour")
        )

    q = (
        attribution_pairs(side("view"), side("click"))
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    }
    assert got == expected


def test_stream_stream_join_state_survives_restart(spark, tmp_path, sf_dir):
    """Cross-restart recovery contract: views arriving BEFORE a shutdown
    must still attribute clicks arriving AFTER the restart — the join
    state is rebuilt from the checkpoint, and the accumulated output
    equals the batch result exactly once (no lost views, no re-emits)."""
    from yelp_data_engineering_pipeline_spark.streaming.windows import attribution_pairs
    from yelp_data_engineering_pipeline_spark.tables import load

    events = load(spark, sf_dir, "events")
    expected = {
        (r["click_id"], r["view_id"])
        for r in attribution_pairs(
            events.filter(F.col("event_type") == "view"),
            events.filter(F.col("event_type") == "click"),
        ).collect()
    }
    assert expected  # non-vacuous

    rows = sorted(
        events.filter(F.col("event_type").isin("view", "click")).collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    half = len(rows) // 2
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()

    def write_file(name, chunk):
        with (in_dir / name).open("w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "event_id": r["event_id"],
                            "ts": _iso_utc(r["ts"]),
                            "user_id": r["user_id"],
                            "event_type": r["event_type"],
                        }
                    )
                    + "\n"
                )

    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def drain():
        def side(t):
            return (
                spark.readStream.schema(schema)
                .json(str(in_dir))
                .filter(F.col("event_type") == t)
                .withWatermark("ts", "1 hour")
            )

        q = (
            attribution_pairs(side("view"), side("click"))
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_file("t1.ndjson", rows[:half])   # first half of the timeline
    drain()                                # ... then the query SHUTS DOWN
    write_file("t2.ndjson", rows[half:])   # late half arrives offline
    drain()                                # restart from the checkpoint

    got = [
        (r["click_id"], r["view_id"])
        for r in spark.read.parquet(str(out_dir)).collect()
    ]
    assert len(got) == len(set(got))       # exactly-once: no re-emits
    assert set(got) == expected            # cross-restart pairs included


def test_stateful_state_survives_restart(spark, tmp_path, sf_dir):
    """applyInPandasWithState across a REAL restart: per-user running
    stats accumulated before a shutdown must continue (not reset) when
    a new query starts from the same checkpoint — the state-store
    recovery contract of the custom stateful operator."""
    from yelp_data_engineering_pipeline_spark.streaming.stateful import running_user_stats
    from yelp_data_engineering_pipeline_spark.tables import load

    events = load(spark, sf_dir, "events").select("user_id", "value")
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 2))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    rows = events.collect()
    half = len(rows) // 2

    def write_file(name, chunk):
        with (in_dir / name).open("w") as f:
            for r in chunk:
                f.write(json.dumps({"user_id": r["user_id"], "value": r["value"]}) + "\n")

    final = {}

    def capture(batch_df, batch_id):
        # memory sink cannot recover from a checkpoint; foreachBatch can
        for r in batch_df.collect():
            cur = final.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                final[r["user_id"]] = (r["n_events"], round(r["total_value"], 2))

    def drain():
        stream = spark.readStream.schema("user_id long, value double").json(str(in_dir))
        q = (
            running_user_stats(stream)
            .writeStream.foreachBatch(capture)
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_file("a.ndjson", rows[:half])
    drain()                              # query stops; state is checkpointed
    write_file("b.ndjson", rows[half:])
    drain()                              # NEW query resumes the state store

    assert final == expected             # counts continued across the restart


def test_stream_stream_join_state_expires(spark, tmp_path):
    """State-EXPIRY proof for the watermarked stream-stream interval join
    (VERDICT.md r4 next-3): under a continuous processingTime trigger,
    join state must PLATEAU as the watermark advances — views older than
    the attribution window are evicted, not retained forever.

    The interval bound is expressed directly on the watermarked timestamp
    columns (windows.py attribution_pairs) precisely so Spark's
    StreamingJoinHelper can derive a state watermark; this test asserts
    the derivation actually evicts: rows are removed from the state store
    and the final state row count stays well below the total rows fed."""
    from datetime import datetime, timezone

    from yelp_data_engineering_pipeline_spark.streaming.windows import attribution_pairs

    # 48 h of view/click traffic, 10 users, one view+click per user-hour;
    # attribution window is 6 h, watermark 1 h -> steady-state keeps ≲8 h
    # of rows per side, far below the 48 h total.
    base_us = 1_700_000_000_000_000
    rows = []
    eid = 0
    for h in range(48):
        for u in range(10):
            for etype, off_s in (("view", 0), ("click", 600)):
                eid += 1
                ts_us = base_us + (h * 3600 + off_s) * 1_000_000
                rows.append(
                    {
                        "event_id": eid,
                        "ts": datetime.fromtimestamp(ts_us / 1e6, tz=timezone.utc)
                        .replace(tzinfo=None)
                        .isoformat(sep=" "),
                        "user_id": u,
                        "event_type": etype,
                    }
                )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    n_files = 6
    per = len(rows) // n_files  # time-ordered 8 h chunks
    for i in range(n_files):
        with (in_dir / f"t{i}.ndjson").open("w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(json.dumps(r) + "\n")
    # distinct ascending mtimes (see the dedup expiry test below)
    import os
    import time as _time

    _now = _time.time()
    for i in range(n_files):
        _pth = str(in_dir / f"t{i}.ndjson")
        os.utime(_pth, (_now - (n_files - i) * 10, _now - (n_files - i) * 10))

    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def side(t):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # one 8 h chunk per micro-batch
            .json(str(in_dir))
            .filter(F.col("event_type") == t)
            .withWatermark("ts", "1 hour")
        )

    q = (
        attribution_pairs(side("view"), side("click"))
        .writeStream.format("memory")
        .queryName("ssj_expiry")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    state = [
        (p["batchId"], p["stateOperators"][0])
        for p in progresses
        if p.get("stateOperators")
    ]
    assert len(state) >= n_files  # really ran multiple micro-batches
    totals = {b: s["numRowsTotal"] for b, s in state}
    removed = sum(s.get("numRowsRemoved", 0) for _, s in state)
    assert removed > 0, f"no state rows ever evicted: {totals}"
    # plateau, not monotone growth: the final state holds at most the
    # watermark+window tail (≈2 of 6 chunks), never the whole stream.
    assert max(totals.values()) < len(rows), totals
    assert totals[max(totals)] <= 0.5 * len(rows), totals


def test_dedup_within_watermark_state_expires(spark, tmp_path):
    """State-expiry proof for event-time streaming dedup
    (ingest.dedup_stream_event_time): keys must leave the state store
    once the watermark passes their timestamp + delay — state tracks
    the duplicate horizon, not total key cardinality."""
    from datetime import datetime, timezone

    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        dedup_stream_event_time,
    )

    # 48 h, one NEW key per user-hour plus an immediate duplicate 5 min
    # later; dedup delay 1 h, watermark 1 h -> steady state holds ~2 h
    # of keys, far below the 480 distinct keys fed.
    base_us = 1_700_000_000_000_000
    rows = []
    for h in range(48):
        for u in range(10):
            k = f"u{u}h{h}"
            for off_s in (0, 300):
                ts_us = base_us + (h * 3600 + off_s) * 1_000_000
                rows.append(
                    {
                        "k": k,
                        "ts": datetime.fromtimestamp(ts_us / 1e6, tz=timezone.utc)
                        .replace(tzinfo=None)
                        .isoformat(sep=" "),
                    }
                )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    n_files = 6
    per = len(rows) // n_files
    for i in range(n_files):
        with (in_dir / f"t{i}.ndjson").open("w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(json.dumps(r) + "\n")
    # DISTINCT ascending mtimes: the file source orders same-mtime
    # files nondeterministically under load, and an out-of-order file
    # advances the watermark past an entire earlier file (its 80 keys
    # dropped as late -- the observed 400 == 480 flake)
    import os
    import time as _time

    _now = _time.time()
    for i in range(n_files):
        _pth = str(in_dir / f"t{i}.ndjson")
        os.utime(_pth, (_now - (n_files - i) * 10, _now - (n_files - i) * 10))

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    # recentProgress keeps only the last N updates (default 100); on a
    # loaded box the 250 ms trigger emits enough idle-tick progresses
    # to evict the eviction-bearing data batches from that window,
    # flaking the `removed > 0` assertion — retain plenty instead.
    prev_retention = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    q = (
        dedup_stream_event_time(stream, "ts", ["k"], delay="1 hour")
        .writeStream.format("memory")
        .queryName("wmdedup_expiry")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # progress reporting is asynchronous: the eviction-bearing
        # batches' updates can land in recentProgress a beat after
        # processAllAvailable returns — poll briefly for a progress set
        # that contains both enough data batches and an eviction
        import time as _time

        progresses = []
        for _ in range(40):
            progresses = [json.loads(p.json) for p in q.recentProgress]
            st = [p["stateOperators"][0] for p in progresses if p.get("stateOperators")]
            if len(st) >= n_files and any(
                s.get("numRowsRemoved", 0) > 0 for s in st
            ):
                break
            _time.sleep(0.25)
    finally:
        q.stop()
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", prev_retention)

    # exactly one survivor per key
    got = spark.sql("SELECT k FROM wmdedup_expiry")
    assert got.count() == 480 and got.distinct().count() == 480

    state = [
        (p["batchId"], p["stateOperators"][0])
        for p in progresses
        if p.get("stateOperators")
    ]
    assert len(state) >= n_files
    totals = {b: s["numRowsTotal"] for b, s in state}
    removed = sum(s.get("numRowsRemoved", 0) for _, s in state)
    assert removed > 0, f"no dedup state ever evicted: {totals}"
    # plateau: final state holds at most the watermark+delay tail,
    # never all 480 keys
    assert totals[max(totals)] <= 240, totals


def test_late_data_accounting_flags_out_of_order_event(spark):
    """An event arriving (by event_id order) after the per-user max ts
    has advanced past ts + delay is late; in-order events never are."""
    from yelp_data_engineering_pipeline_spark.streaming.windows import (
        late_data_accounting,
    )

    us = 1_000_000
    rows = [
        # user 1: in order -> nothing late
        (1, 1, 0 * us, "click"),
        (2, 1, 3600 * us, "click"),
        # user 2: event 12 arrives 2h behind the watermark -> late
        (10, 2, 0 * us, "view"),
        (11, 2, 7200 * us, "view"),
        (12, 2, 600 * us, "view"),
        # user 2: only 10 min behind -> inside the 30-min delay
        (13, 2, 7000 * us, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string"
    ).selectExpr(
        "event_id", "user_id", "timestamp_micros(ts_us) AS ts", "event_type"
    )
    got = {r.event_type: r for r in late_data_accounting(df).collect()}
    assert got["click"].n_late == 0 and got["click"].n_ontime == 2
    assert got["view"].n_late == 1 and got["view"].n_ontime == 3


def test_stream_merge_into_upserts_and_survives_restart(spark, tmp_path):
    """Streaming NDJSON -> MERGE table: re-scraped keys UPDATE in place
    across micro-batch boundaries, and a full restart with the same
    checkpoint re-reads nothing (version does not advance)."""
    import json as _json

    from tests.yelp_fixtures import make_results
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_ingest_merge_into,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows = make_results(6)
    with open(in_dir / "b1.ndjson", "w") as f:
        for r in rows[:4]:
            f.write(_json.dumps(r) + "\n")
    v = run_ingest_merge_into(
        spark, str(in_dir), str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    )
    assert v >= 1

    # second file: 2 new + 1 re-scrape of an existing bizId with a new name
    update = dict(rows[0])
    update["name"] = "RENAMED"
    with open(in_dir / "b2.ndjson", "w") as f:
        for r in [*rows[4:6], update]:
            f.write(_json.dumps(r) + "\n")
    v2 = run_ingest_merge_into(
        spark, str(in_dir), str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    )
    assert v2 > v
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="bizId")
    got = {r.bizId: r.name for r in t.read().select("bizId", "name").collect()}
    assert len(got) == 6  # upsert, not append: no duplicate bizIds
    assert got[update["bizId"]] == "RENAMED"

    # restart with nothing new: checkpoint replays nothing, no commit
    v3 = run_ingest_merge_into(
        spark, str(in_dir), str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    )
    assert v3 == v2


def test_late_accounting_matches_real_stream_drops(spark, tmp_path):
    """VERDICT r6 next-8: tie the BATCH late-data accounting to a REAL
    Structured Streaming run's drop count on the same arrival sequence.

    Alignment contract (the bounded divergences, made exact here):
    - the stream's watermark is GLOBAL and advances between
      micro-batches; the batch simulation's is per-key over arrival
      order — one user_id and one event per micro-batch
      (maxFilesPerTrigger=1, mtime-ordered files) make them identical;
    - Spark keeps TWO watermarks per batch (SPARK-40925): the
      late-event FILTER uses the previous batch's watermark while
      EVICTION uses the current one — discovered empirically here (a
      row later than the reported watermark still landed in state).
      With one event per batch that filter is max(ts through arrival
      i-2) - delay, i.e. late_filter_lag=2;
    - the stream drops at WINDOW granularity (window end <= watermark),
      the simulation at row granularity (ts < watermark) — 60 s windows
      with every fixture ts >= 2 min away from any watermark boundary
      make the two predicates agree on every row;
    - append mode only emits FINALIZED windows, so a far-future flush
      event closes everything; it is excluded from both sides.
    """
    import json as _json
    import os

    from yelp_data_engineering_pipeline_spark.streaming.windows import (
        late_data_accounting,
    )

    delay_us = 10 * 60 * 1_000_000  # 10 minutes
    # (ts, type): arrival order matters. Late-filter watermark at row i
    # = max(ts through row i-2) - 10 min (the lag-2 column below).
    seq = [
        ("2024-01-01 10:00:00", "view"),   # filter wm: -inf
        ("2024-01-01 10:20:00", "click"),  # filter wm: -inf
        ("2024-01-01 10:40:00", "view"),   # filter wm 09:50
        ("2024-01-01 10:05:00", "view"),   # filter wm 10:10 -> LATE
        ("2024-01-01 10:35:00", "click"),  # filter wm 10:30 -> kept
        ("2024-01-01 11:30:00", "view"),   # filter wm 10:30 -> kept
        ("2024-01-01 11:28:00", "view"),   # filter wm 10:30 -> kept
        ("2024-01-01 10:50:00", "click"),  # filter wm 11:20 -> LATE
        ("2024-01-01 11:25:00", "view"),   # filter wm 11:20 -> kept
        ("2024-01-02 12:00:00", "flush"),  # closes every real window
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, (ts, typ) in enumerate(seq):
        p = in_dir / f"b{i:03d}.json"
        with open(p, "w") as f:
            _json.dump({"ts": ts, "event_type": typ}, f)
            f.write("\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # arrival order

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .json(str(in_dir))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "60 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    survived = {
        r["event_type"]: r["tot"]
        for r in spark.read.parquet(str(out))
        .groupBy("event_type")
        .agg(F.sum("n").alias("tot"))
        .collect()
    }

    # batch side: same arrival sequence, event_id = arrival index
    batch = spark.createDataFrame(
        [(i, 1, ts, typ) for i, (ts, typ) in enumerate(seq)],
        "event_id long, user_id long, ts string, event_type string",
    ).select("event_id", "user_id", F.to_timestamp("ts").alias("ts"), "event_type")
    acct = {
        r["event_type"]: (r["n_late"], r["n_ontime"])
        for r in late_data_accounting(
            batch, delay_us=delay_us, late_filter_lag=2
        ).collect()
    }

    totals = {}
    for _, typ in seq:
        totals[typ] = totals.get(typ, 0) + 1
    for typ in ("view", "click"):
        stream_late = totals[typ] - survived.get(typ, 0)
        assert acct[typ][0] == stream_late, (typ, acct[typ], survived)
        assert acct[typ][1] == survived.get(typ, 0)
    # and the fixture actually exercises drops on both types
    assert acct["view"][0] == 1 and acct["click"][0] == 1


def test_stream_merge_into_partitioned_prunes_per_batch(spark, tmp_path):
    """Streaming ingest into a PARTITIONED merge table: each
    micro-batch takes the partition-pruned CoW path — a batch touching
    one partition carries every other partition forward by manifest
    reference (same files), and the merged content equals the serial
    replay."""
    import json as _json
    import os

    from tests.yelp_fixtures import make_results
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_ingest_merge_into,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows = make_results(8, seed=5)
    for i, r in enumerate(rows):
        r["price"] = "$" if i % 2 else "$$"  # partition key
    with open(in_dir / "b1.ndjson", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    root = str(tmp_path / "tbl")
    run_ingest_merge_into(
        spark, str(in_dir), root, str(tmp_path / "ckpt"),
        partition_by="price",
    )
    t = ParquetMergeTable(spark, root, key="bizId", partition_by="price")
    v1 = t.current_version()
    assert t.read().count() == 8

    # batch 2 touches ONLY the '$' partition (odd-index rows)
    update = dict(rows[1])
    assert update["price"] == "$"
    update["name"] = "RENAMED"
    with open(in_dir / "b2.ndjson", "w") as f:
        f.write(_json.dumps(update) + "\n")
    run_ingest_merge_into(
        spark, str(in_dir), root, str(tmp_path / "ckpt"),
        partition_by="price",
    )
    v2 = t.current_version()
    assert v2 == v1 + 1
    got = {r.bizId: r.name for r in t.read().select("bizId", "name").collect()}
    assert len(got) == 8 and got[update["bizId"]] == "RENAMED"
    # untouched '$$' partition rode forward by reference (same files)
    old = {r for r in t._file_keys(v1)
           if t._rel_partition_dir(r) == "price=$$"}
    assert old and old <= set(t._file_keys(v2))
    assert all(os.path.isfile(os.path.join(root, r)) for r in old)


def test_stream_merge_into_replays_through_crash_orphan(spark, tmp_path):
    """The exactly-once composition claim under a simulated crash
    BETWEEN data write and manifest create (ADVICE r6): an orphan
    ``_data/tx-<id>`` stage with a torn file sits in the table when the
    stream restarts; the replayed/next micro-batch commits around it
    (readers never see it) and vacuum sweeps it."""
    import json as _json
    import os

    from tests.yelp_fixtures import make_results
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_ingest_merge_into,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows = make_results(5, seed=12)
    with open(in_dir / "b1.ndjson", "w") as f:
        for r in rows[:3]:
            f.write(_json.dumps(r) + "\n")
    root = str(tmp_path / "tbl")
    v1 = run_ingest_merge_into(spark, str(in_dir), root, str(tmp_path / "ckpt"))

    # crash site: a half-written stage no manifest references
    orphan = os.path.join(root, "_data", "tx-crashed00000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-000.parquet"), "w") as f:
        f.write("torn write")

    with open(in_dir / "b2.ndjson", "w") as f:
        for r in rows[3:]:
            f.write(_json.dumps(r) + "\n")
    v2 = run_ingest_merge_into(spark, str(in_dir), root, str(tmp_path / "ckpt"))
    assert v2 == v1 + 1
    t = ParquetMergeTable(spark, root, key="bizId")
    assert t.read().count() == 5
    assert t.read().select("bizId").distinct().count() == 5
    t.vacuum(stage_grace_seconds=0)
    assert not os.path.exists(orphan)
    assert t.read().count() == 5


def test_stream_cdc_conditional_upsert_out_of_order(spark, tmp_path):
    """run_cdc_upsert_stream: a later micro-batch carrying an OLDER
    change event for a key must NOT regress the row (s.ts >= t.ts
    clause), while genuinely newer events update and novel keys
    insert — the out-of-order CDC delivery shape."""
    import json as _json

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_cdc_upsert_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "k LONG, ts LONG, v STRING"

    def feed(name, rows):
        with open(in_dir / name, "w") as f:
            for k, ts, v in rows:
                f.write(_json.dumps({"k": k, "ts": ts, "v": v}) + "\n")
        stream = spark.readStream.schema(schema).json(str(in_dir))
        return run_cdc_upsert_stream(
            spark, stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
            key="k", ts_col="ts",
        )

    # batch 1: three keys; k=1 has two in-batch events — max ts wins
    feed("b1.ndjson", [(1, 10, "a"), (1, 12, "a2"), (2, 10, "b"), (3, 10, "c")])
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    got = {r.k: (r.ts, r.v) for r in t.read().collect()}
    assert got == {1: (12, "a2"), 2: (10, "b"), 3: (10, "c")}

    # batch 2: stale event for k=1 (ts 11 < 12) must NOT regress;
    # newer event for k=2 updates; k=4 inserts
    feed("b2.ndjson", [(1, 11, "STALE"), (2, 20, "b2"), (4, 5, "d")])
    got = {r.k: (r.ts, r.v) for r in t.read().collect()}
    assert got == {1: (12, "a2"), 2: (20, "b2"), 3: (10, "c"), 4: (5, "d")}

    # restart with nothing new: no commit
    v_before = t.current_version()
    stream = spark.readStream.schema(schema).json(str(in_dir))
    v_after = run_cdc_upsert_stream(
        spark, stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        key="k", ts_col="ts",
    )
    assert v_after == v_before


def test_stream_cdc_upsert_with_delete_events(spark, tmp_path):
    """CDC feeds carry DELETE events (Debezium op='d'): a delete
    removes its key only when NEWER than the stored row (a stale
    delete after a newer upsert is ignored), a delete for an absent
    key no-ops, and the event marker never enters the table schema."""
    import json as _json

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_cdc_upsert_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "k LONG, ts LONG, v STRING, _del BOOLEAN"

    def feed(name, rows):
        with open(in_dir / name, "w") as f:
            for k, ts, v, d in rows:
                f.write(_json.dumps(
                    {"k": k, "ts": ts, "v": v, "_del": d}) + "\n")
        stream = spark.readStream.schema(schema).json(str(in_dir))
        return run_cdc_upsert_stream(
            spark, stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
            key="k", ts_col="ts", delete_col="_del",
        )

    feed("b1.ndjson", [(1, 10, "a", False), (2, 10, "b", False),
                       (3, 10, "c", False),
                       (9, 10, None, True)])  # delete before any insert
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    assert "_del" not in t.read().columns
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]

    # newer delete removes; stale delete ignored; delete+newer-upsert
    # in ONE batch resolves to the newest event (the upsert)
    feed("b2.ndjson", [(1, 20, None, True),    # newer delete -> gone
                       (2, 5, None, True),     # stale delete -> kept
                       (3, 20, None, True),    # delete...
                       (3, 30, "c3", False),   # ...but newer upsert wins
                       (4, 7, "d", False)])    # novel insert
    got = {r.k: (r.ts, r.v) for r in t.read().collect()}
    assert got == {2: (10, "b"), 3: (30, "c3"), 4: (7, "d")}
    assert "_del" not in t.read().columns


def test_stream_cdc_equal_ts_tiebreak_deterministic(spark, tmp_path):
    """Two events with the same key AND equal ts must resolve by the
    FIXED canonical rule (delete beats upsert, then greatest JSON
    payload — ingest._dedup_order), not by partition luck: a
    checkpoint-replayed batch that picked a different survivor would
    overwrite the row (s.ts >= t.ts passes on equal ts) and break the
    bit-identical-replay exactly-once argument (ADVICE r7)."""
    import json as _json

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_cdc_upsert_stream,
    )

    rows = [(1, 10, "a", False), (1, 10, "z", False),   # payload tie
            (2, 10, "x", True), (2, 10, "y", False),    # delete vs upsert
            (3, 10, "c", False)]
    schema = "k LONG, ts LONG, v STRING, _del BOOLEAN"

    def run(tag):
        in_dir = tmp_path / f"in_{tag}"
        in_dir.mkdir()
        with open(in_dir / "b1.ndjson", "w") as f:
            for k, ts, v, d in rows:
                f.write(_json.dumps({"k": k, "ts": ts, "v": v, "_del": d}) + "\n")
        stream = spark.readStream.schema(schema).json(str(in_dir))
        run_cdc_upsert_stream(
            spark, stream, str(tmp_path / f"tbl_{tag}"),
            str(tmp_path / f"ckpt_{tag}"), key="k", ts_col="ts",
            delete_col="_del",
        )
        t = ParquetMergeTable(spark, str(tmp_path / f"tbl_{tag}"), key="k")
        return {r.k: (r.ts, r.v) for r in t.read().collect()}

    got_a, got_b = run("a"), run("b")
    # identical across independent runs AND equal to the canonical
    # outcome: k=1 keeps the greatest payload, k=2's delete wins the
    # equal-ts tie (absent from the table)
    assert got_a == got_b == {1: (10, "z"), 3: (10, "c")}


def test_stream_cdc_change_feed_equals_input_batches(spark, tmp_path):
    """CDC -> CDF ledger linkage (VERDICT r7 next-8): the change feed
    between consecutive streamed commits must equal the effect of the
    micro-batch that produced the commit — the exactly-once ledger a
    downstream consumer replays. Three pre-staged files drain as three
    micro-batches (maxFilesPerTrigger=1); each version's
    changes_between classification is asserted against the batch's
    input, including a delete event."""
    import json as _json
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )
    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_cdc_upsert_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batches = [
        [(1, 10, "a", False), (2, 10, "b", False)],
        [(1, 20, "a2", False), (3, 5, "c", False)],
        [(2, 30, None, True), (4, 4, "d", False)],
    ]
    for i, rows in enumerate(batches):
        p = in_dir / f"b{i}.ndjson"
        with open(p, "w") as f:
            for k, ts, v, d in rows:
                f.write(_json.dumps({"k": k, "ts": ts, "v": v, "_del": d}) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # batch order

    schema = "k LONG, ts LONG, v STRING, _del BOOLEAN"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(in_dir))
    )
    v = run_cdc_upsert_stream(
        spark, stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        key="k", ts_col="ts", delete_col="_del",
    )
    assert v == 3  # one commit per micro-batch

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")

    def feed(v_from, v_to):
        return {
            r.k: r.change_type
            for r in t.changes_between(v_from, v_to).collect()
        }

    # the insert-only FIRST commit: v_from=0 is the empty pre-table
    # state, so every first-batch key classifies inserted
    assert feed(0, 1) == {1: "inserted", 2: "inserted"}
    assert feed(1, 2) == {1: "updated", 2: "unchanged", 3: "inserted"}
    assert feed(2, 3) == {1: "unchanged", 2: "deleted", 3: "unchanged",
                          4: "inserted"}
