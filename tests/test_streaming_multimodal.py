"""Structured Streaming parity test (§2.9 stretch) + multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.plans import intermediate, nyc_views, staging
from nyc_taxi_data_warehouse_spark.sources import multimodal
from nyc_taxi_data_warehouse_spark.streaming import weather_stream


def _weather_feed(spark, sf_dir, src):
    weather = nyc_views.weather_from_events(
        nyc_views.load_tables(spark, sf_dir)["events"]
    )
    weather.write.mode("overwrite").parquet(src)
    return weather


def _hourly(spark, src):
    return weather_stream.hourly_weather_stream(
        weather_stream.read_weather_stream(spark, src)
    )


def _state_partitions(q):
    ops = q.lastProgress["stateOperators"]
    assert ops, "the hourly drain has stateful operators"
    return {op["numShufflePartitions"] for op in ops}


def test_streaming_hourly_agg_matches_batch(spark, sf_dir, tmp_path):
    """The drain matches the batch model; its state stores run 8
    partitions whatever the session's batch setting, and the session
    setting is back afterwards."""
    src = str(tmp_path / "weather_feed")
    weather = _weather_feed(spark, sf_dir, src)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "8"

    q = weather_stream.run_available_now(_hourly(spark, src), "wh_test")
    assert q.awaitTermination(120)
    assert _state_partitions(q) == {8}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    got = spark.table("wh_test")
    batch = intermediate.int_weather_hourly(staging.stg_weather(weather))
    # streaming path filters the same staging predicate; compare rollups
    cols = ["observation_hour", "city", "observation_count", "weather_description"]
    g = {tuple(r) for r in got.select(*cols).collect()}
    b = {tuple(r) for r in batch.select(*cols).collect()}
    assert g == b
    q.stop()


def test_concurrent_stream_starts_restore_the_session_conf(spark, sf_dir, tmp_path):
    """More threads than cores start streams at once: each stream gets 8
    state partitions, and no interleaved save/restore leaves the session
    at 8."""
    import sys
    import threading

    src = str(tmp_path / "weather_feed")
    _weather_feed(spark, sf_dir, src)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    frames = [_hourly(spark, src) for _ in range(6)]
    gate = threading.Barrier(len(frames))
    started, errors = {}, []

    def start(i):
        try:
            gate.wait()
            started[i] = weather_stream.run_available_now(frames[i], f"wh_thread_{i}")
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)

    threads = [threading.Thread(target=start, args=(i,)) for i in range(len(frames))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert len(started) == len(frames)
    for q in started.values():
        assert q.awaitTermination(120)
        q.stop()
        assert _state_partitions(q) == {8}


def test_multimodal_decode_stub_contract(spark):
    rows = [
        ("m1", "image", bytearray(b"\x01\x02\x03\x04"), 2, 2, None),
        ("m2", "image", bytearray(b""), 0, 0, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.decode_image_batch(multimodal.attach_media_metadata(df))
    got = {r.media_id: r for r in out.collect()}
    assert got["m1"].n_bytes == 4
    assert got["m1"].mean_byte == pytest.approx(2.5)
    assert len(got["m1"].feature_hash) == 32
    assert got["m2"].mean_byte == 0.0


def test_frame_sample_plan_shape(spark):
    df = spark.createDataFrame(
        [("m1", "video", bytearray(b"x" * 90000), 0, 0, 90000)],
        multimodal.MEDIA_SCHEMA,
    )
    plan = multimodal.frame_sample_plan(multimodal.attach_media_metadata(df))
    rows = plan.collect()
    assert len(rows) == 4  # indices 0,30,60,90
    assert {r.frame_idx for r in rows} == {0, 30, 60, 90}


def test_stateful_sessionize_gap_splits_and_state_survives_batches(spark, tmp_path):
    from datetime import datetime

    from nyc_taxi_data_warehouse_spark.streaming import sessionize

    def ev(uid, minute, val=1.0):
        return (uid, datetime(2026, 1, 1, 10 + minute // 60, minute % 60), val)

    src = str(tmp_path / "sess_feed")
    # batch file 1: user 1 has a 40-min gap at minute 10 -> one closed session;
    # user 2 stays within the gap -> no closed session yet
    spark.createDataFrame(
        [ev(1, 0), ev(1, 5), ev(1, 10), ev(1, 50), ev(2, 0), ev(2, 20)],
        "user_id long, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)
    # batch file 2: user 1 continues its open session (minute 55); user 2
    # jumps 3 hours -> closes its open session from batch 1
    spark.createDataFrame(
        [ev(1, 55), ev(2, 200)],
        "user_id long, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)  # force two micro-batches
        .parquet(src)
    )
    sink = weather_stream.drain_available_now(
        sessionize.sessionize_stream(stream, gap_minutes=30), "sess_test", "update"
    )

    got = {
        (r.user_id, r.session_start.minute, r.session_end.minute, r.n_events)
        for r in sink.collect()
    }
    # closed: user1 minutes 0-10 (3 events); user2 minutes 0-20 (2 events).
    # open tails (user1 50-55, user2 at 200) are not emitted.
    assert got == {(1, 0, 10, 3), (2, 0, 20, 2)}


def test_multimodal_resize_stub_contract(spark):
    rows = [
        ("m1", "image", bytearray(b"\x01" * 100), 10, 10, None),
        ("m2", "image", bytearray(b"\x02" * 10), 0, 0, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.resize_image_batch(
        df, target_w=4, target_h=4
    ).collect()}
    assert out["m1"].width == 4 and out["m1"].height == 4
    assert len(out["m1"].payload) == 16  # truncated to the pixel budget
    assert len(out["m2"].payload) == 16  # padded to the pixel budget
