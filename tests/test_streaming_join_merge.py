"""Streaming completeness: stream-static joins and foreachBatch merge.

- stream × static broadcast dim join: the enrichment shape every streaming
  ingest uses (facts stream, dimensions sit in the lake).
- foreachBatch + insert-only MERGE: the standard idempotent streaming
  upsert — re-delivered micro-batches insert nothing new (the streaming
  face of the reference's S8 MERGE semantics).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.plans import nyc_views
from nyc_taxi_data_warehouse_spark.streaming.merge_sink import foreach_batch_merge
from nyc_taxi_data_warehouse_spark.streaming.weather_stream import drain_available_now


def test_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    trips = nyc_views.trips_from_events(
        nyc_views.load_tables(spark, sf_dir)["events"]
    ).na.drop(subset=["pickup_zone_id"])
    src = str(tmp_path / "trips_feed")
    trips.write.mode("overwrite").parquet(src)

    zones = nyc_views.zones_dim(spark)  # static side
    stream = spark.readStream.schema(trips.schema).parquet(src)
    enriched = stream.join(
        F.broadcast(zones), stream.pickup_zone_id == zones.location_id, "left"
    )
    sink = drain_available_now(
        enriched.groupBy("borough").agg(F.count(F.lit(1)).alias("n")), "ssj_test"
    )

    got = {r.borough: r.n for r in sink.collect()}
    want = {
        r.borough: r.n
        for r in trips.join(
            F.broadcast(zones), trips.pickup_zone_id == zones.location_id, "left"
        )
        .groupBy("borough")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_foreachbatch_merge_is_idempotent(spark, tmp_path):
    from datetime import datetime

    rows = [(i, datetime(2026, 1, 1, 10, i), float(i)) for i in range(20)]
    src = str(tmp_path / "merge_feed")
    feed = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    # the same rows delivered TWICE (two files) — at-least-once delivery
    feed.coalesce(1).write.mode("append").parquet(src)
    feed.coalesce(1).write.mode("append").parquet(src)

    target_path = str(tmp_path / "merge_target")
    state = {"count": 0}
    merge_fn = foreach_batch_merge(target_path, ["event_id"])

    def upsert(batch_df, batch_id):
        merge_fn(batch_df, batch_id)
        state["count"] += 1

    q = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)  # two micro-batches
        .parquet(src)
        .writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    final = spark.read.parquet(target_path)
    assert state["count"] == 2  # both batches processed
    assert final.count() == 20  # re-delivery inserted nothing new
    assert final.select("event_id").distinct().count() == 20


def test_streaming_dedup_within_watermark_drops_redelivery(spark, tmp_path):
    """Re-delivered rows (same natural key, second micro-batch) are dropped
    while state stays watermark-bounded — streaming MERGE-dedup parity."""
    from nyc_taxi_data_warehouse_spark.streaming.dedup_stream import (
        dedup_within_watermark,
    )

    src = str(tmp_path / "feed")
    base = spark.createDataFrame(
        [(i, f"2024-01-01 10:{i:02d}:00", float(i)) for i in range(20)],
        "event_id long, ts_s string, value double",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    # batch 1: ids 0..19; batch 2: ids 10..29 (10..19 are re-deliveries)
    base.write.mode("overwrite").parquet(src)
    redelivered = spark.createDataFrame(
        [(i, f"2024-01-01 10:{i:02d}:00", float(i)) for i in range(10, 30)],
        "event_id long, ts_s string, value double",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    redelivered.write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = dedup_within_watermark(stream, ["event_id"], "ts", "2 hours")
    sink = drain_available_now(deduped, "sdedup_test", "append")

    rows = sink.collect()
    assert sorted(r.event_id for r in rows) == list(range(30))  # each id once
