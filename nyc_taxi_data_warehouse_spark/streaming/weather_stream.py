"""Structured Streaming re-expression of the hourly feeds (SURVEY §2.9).

The reference's "real-time" weather is a scheduled hourly batch pull
(`dags/weather_realtime_etl.py:30`); its late-data story is batch repair
(anti-join backfill J4 + MERGE idempotence S8) with freshness SLAs standing
in for watermarks (`models/staging/sources.yml:13-15,37-39`).

The streaming-native equivalent: file-source stream → 2h watermark (the
reference's warn SLA) → 1h tumbling window reproducing int_weather_hourly
(A1). `Trigger.AvailableNow` gives exactly the hourly-batch cadence while
keeping incremental state; the same code runs continuous.

:func:`run_available_now` is the one place the engine starts a
memory-sink drain (the DAG's weather drain and every `q_stream_*` query),
and it starts each one with 8 state partitions instead of the session's
batch setting (32 by default).  At kilobyte state every micro-batch
still commits one state file per store per partition, so those files are
pure fixed cost: at 32 partitions the weather drain ran 2×64 state-store
tasks to aggregate a few hundred rows.

:func:`read_weather_stream` serves the ELT refresh's lake drain and the
tests: it reads a weather dir that keeps growing, with the fixed
:data:`WEATHER_STREAM_SCHEMA`.  The `q_stream_*` queries do not use it:
they replay a staged batch frame through
:func:`~nyc_taxi_data_warehouse_spark.util.stream_feed`, which reads the
frame's own schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..util import stream_state_partitions, unique_name

WEATHER_STREAM_SCHEMA = StructType(
    [
        StructField("obs_id", LongType()),
        StructField("observed_at", TimestampType()),
        StructField("city", StringType()),
        StructField("temp_f", DoubleType()),
        StructField("weather_desc", StringType()),
        StructField("humidity_pct", IntegerType()),
        StructField("raw_json", StringType()),
        StructField("load_ts", TimestampType()),
    ]
)


def read_weather_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(WEATHER_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def hourly_weather_stream(stream: DataFrame) -> DataFrame:
    """Streaming int_weather_hourly: 1h tumbling window under a 2-hour
    watermark.

    `max_by(desc, struct(observed_at, obs_id))` is the same deterministic
    argmax the batch model uses; dedup on obs_id guards re-delivered files
    (the streaming analogue of the MERGE idempotence).
    `dropDuplicatesWithinWatermark` keeps the dedup state BOUNDED — plain
    `dropDuplicates` would grow its key set forever on an unbounded feed."""
    w = (
        stream.withWatermark("observed_at", "2 hours")
        .dropDuplicatesWithinWatermark(["obs_id"])
        .where(F.col("observed_at").isNotNull() & F.col("temp_f").isNotNull())
    )
    return w.groupBy(
        F.window("observed_at", "1 hour").alias("win"), F.col("city")
    ).agg(
        F.avg("temp_f").alias("avg_temperature_fahrenheit"),
        F.min("temp_f").alias("min_temperature_fahrenheit"),
        F.max("temp_f").alias("max_temperature_fahrenheit"),
        F.avg("humidity_pct").alias("avg_humidity_percent"),
        F.expr("max_by(weather_desc, struct(observed_at, obs_id))").alias(
            "weather_description"
        ),
        F.count(F.lit(1)).alias("observation_count"),
        F.max("observed_at").alias("latest_observation_at"),
    ).select(
        F.col("win.start").alias("observation_hour"),
        "city",
        "avg_temperature_fahrenheit",
        "min_temperature_fahrenheit",
        "max_temperature_fahrenheit",
        "avg_humidity_percent",
        "weather_description",
        "observation_count",
        "latest_observation_at",
    )


def run_available_now(
    agg: DataFrame,
    query_name: str = "weather_hourly_stream",
    output_mode: str = "complete",
):
    """Drain everything currently in the source (hourly-batch cadence),
    results to an in-memory sink for inspection/tests. ``complete`` for
    windowed aggregations; ``append`` for row streams (dedup, filters).

    Only ``start()`` runs inside the 8-partition
    :func:`~nyc_taxi_data_warehouse_spark.util.stream_state_partitions`
    scope: the stream clones the session conf when it starts and its
    checkpoint then fixes the state-partition count, so restoring the
    session conf once ``start()`` returns does not reach the running
    stream, and the wait for the drain needs no scope."""
    writer = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    with stream_state_partitions(agg.sparkSession, 8):
        return writer.start()


def drain_available_now(
    agg: DataFrame, prefix: str, output_mode: str = "complete"
) -> DataFrame:
    """:func:`run_available_now` into a sink named ``<prefix>_<n>`` by
    :func:`~nyc_taxi_data_warehouse_spark.util.unique_name`, wait up to
    300 s for the drain, and return the filled sink table.  Every call
    gets a fresh sink, so repeated or concurrent runs of one query never
    share a table.  A drain that does not finish raises instead of
    handing a partially-filled sink to the caller."""
    name = unique_name(prefix)
    q = run_available_now(agg, name, output_mode)
    drained = q.awaitTermination(300)
    q.stop()
    if not drained:
        raise RuntimeError(
            f"{name}: availableNow drain timed out after 300s"
            " — refusing to read a partially-filled sink"
        )
    return agg.sparkSession.table(name)
