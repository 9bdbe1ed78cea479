"""Deterministic mapping of the driver testdata onto the NYC-taxi domain.

The reference engine operates on two feeds: `NYC_TAXI_TRIPS`
(``dags/etl_spark_historical.py:50-61``) and `RAW_WEATHER`
(``dags/weather_realtime_etl.py:54-65``). The driver's testdata has no such
tables, so per FIXTURES.md §5 the `events` table plays both roles through a
purely deterministic row-wise mapping. Every expression here exists twice —
as a Spark Column expression and as a DuckDB SQL CTE string — and the two
MUST stay in lockstep: the correctness gate hashes Spark output against the
DuckDB oracle.

Portability rules that keep the twins bit-identical:
- doubles → only per-row arithmetic (bit-exact IEEE in both engines);
  aggregate outputs get rounded at the query layer.
- `CAST(floor(x) AS BIGINT)`, never `CAST(x AS BIGINT)` — DuckDB rounds,
  Spark truncates.
- `%` only on non-negative operands (same C-style semantics both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure_runtime
from ..util import session_memo

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table. The first call per (session, sf_dir)
    applies the runtime conf (UTC tz, AQE) before reading; later calls
    leave the session conf as the caller set it.

    The shipped sf dirs store `events.ts` as parquet TIMESTAMP(MICROS),
    which Spark reads as a timestamp directly.  An `events.ts` stored as
    TIMESTAMP(NANOS) reads as long-ns instead (via `nanosAsLong`), and
    `ts div 1000 → timestamp_micros` truncates exactly like DuckDB's ns→µs
    conversion.

    The reader HANDLES are built once per (session, sf_dir) through
    :func:`~nyc_taxi_data_warehouse_spark.util.session_memo` — resolve
    each table once per session, the way a catalog-backed engine would
    (guide §6: repeated `spark.read.parquet` re-lists files and re-reads
    footers for schema inference — measured 10 driver jobs / ~1.1 s per
    call here, paid by every query invocation).  Only the analyzed PLAN
    is memoized: every action still scans the parquet inputs, so no
    result or data caching crosses runs (the bench's clearCache simply
    re-fills the events entry below on next use).
    """
    def build() -> dict[str, DataFrame]:
        configure_runtime(spark)
        tabs = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}
        ev = tabs["events"]
        if dict(ev.dtypes).get("ts") == "bigint":
            tabs["events"] = ev.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return tabs

    out = dict(session_memo(spark, ("load_tables", sf_dir), build))
    # TESTDATA-ADAPTER choice, not a production pattern: `events` feeds BOTH
    # domain views (trips + weather), so every mart scans it twice; the
    # source is megabytes here, and Spark's CacheManager keys on the analyzed
    # plan, so repeated load_tables calls share ONE cache entry. At real
    # scale trips/weather are separate fact tables and nothing here caches.
    # persist() re-registers the entry after a harness clearCache (no-op
    # while already cached), so each bench run pays its own cache fill.
    out["events"] = out["events"].persist()
    return out


# ---------------------------------------------------------------------------
# trips: events → NYC_TAXI_TRIPS shape (grain: one row per trip)
# Nulls/anomalies injected on deterministic event_id strides to exercise the
# dropna (P2), staging-filter (P5) and anomaly-flag (E8-E10) paths.
# ---------------------------------------------------------------------------

def trips_from_events(events: DataFrame) -> DataFrame:
    e = events
    dur_min = (F.floor(e.value).cast("long") % 200 - 5).cast("int")
    fv = F.floor(e.value).cast("long")
    return e.select(
        F.when(e.event_id % 101 == 0, F.lit(None).cast("timestamp"))
        .otherwise(e.ts)
        .alias("pickup_datetime"),
        F.when(e.event_id % 97 == 0, F.lit(None).cast("timestamp"))
        .otherwise(F.timestamp_add("MINUTE", dur_min, e.ts))
        .alias("dropoff_datetime"),
        F.when(e.event_id % 53 == 0, F.lit(None).cast("int"))
        .otherwise(((e.user_id * 17 + e.event_id) % 40 + 1).cast("int"))
        .alias("pickup_zone_id"),
        F.when(e.event_id % 71 == 0, F.lit(None).cast("int"))
        .otherwise(((e.user_id * 31 + fv) % 40 + 1).cast("int"))
        .alias("dropoff_zone_id"),
        F.when(e.event_id % 37 == 0, F.lit(None).cast("int"))
        .otherwise((e.event_id % 8).cast("int"))
        .alias("passenger_count"),
        F.when(e.event_id % 211 == 0, e.value)
        .otherwise(e.value / 10.0 - 0.5)
        .alias("trip_distance"),
        (e.value - 1.0).alias("total_amount"),
        e.ts.alias("load_ts"),
    )


SQL_TRIPS = """
trips AS (
    SELECT
        CASE WHEN event_id % 101 = 0 THEN NULL ELSE ts END AS pickup_datetime,
        CASE WHEN event_id % 97 = 0 THEN NULL
             ELSE ts + to_minutes((CAST(floor(value) AS BIGINT) % 200) - 5)
        END AS dropoff_datetime,
        CASE WHEN event_id % 53 = 0 THEN NULL
             ELSE CAST((user_id * 17 + event_id) % 40 + 1 AS INTEGER)
        END AS pickup_zone_id,
        CASE WHEN event_id % 71 = 0 THEN NULL
             ELSE CAST((user_id * 31 + CAST(floor(value) AS BIGINT)) % 40 + 1 AS INTEGER)
        END AS dropoff_zone_id,
        CASE WHEN event_id % 37 = 0 THEN NULL
             ELSE CAST(event_id % 8 AS INTEGER)
        END AS passenger_count,
        CASE WHEN event_id % 211 = 0 THEN value ELSE value / 10.0 - 0.5 END AS trip_distance,
        value - 1.0 AS total_amount,
        ts AS load_ts
    FROM events
)
"""


# ---------------------------------------------------------------------------
# weather: events (view/click slice) → RAW_WEATHER shape.
# ~55% of hours have no observation (exercises the backfill anti-join J4);
# some hours carry several (exercises the hourly agg A1 / max_by).
# obs_id is carried as deterministic tie-break for argmax (see intermediate).
# ---------------------------------------------------------------------------

def weather_from_events(events: DataFrame) -> DataFrame:
    e = events.where(F.col("event_type").isin("view", "click"))
    return e.select(
        e.event_id.alias("obs_id"),
        e.ts.alias("observed_at"),
        F.when(e.user_id % 5 < 2, F.lit("New York"))
        .when(e.user_id % 5 == 2, F.lit("new york city"))
        .when(e.user_id % 5 == 3, F.lit("Boston"))
        .otherwise(F.lit("NEW YORK"))
        .alias("city"),
        F.when(e.event_id % 89 == 0, F.lit(None).cast("double"))
        .otherwise(F.least(e.value * 0.6 - 40.0, F.lit(150.0)))
        .alias("temp_f"),
        e.event_type.alias("weather_desc"),
        (F.floor(e.value).cast("long") % 101).cast("int").alias("humidity_pct"),
        e.props.alias("raw_json"),
        F.timestamp_add("MINUTE", F.lit(5), e.ts).alias("load_ts"),
    )


SQL_WEATHER = """
weather AS (
    SELECT
        event_id AS obs_id,
        ts AS observed_at,
        CASE WHEN user_id % 5 < 2 THEN 'New York'
             WHEN user_id % 5 = 2 THEN 'new york city'
             WHEN user_id % 5 = 3 THEN 'Boston'
             ELSE 'NEW YORK'
        END AS city,
        CASE WHEN event_id % 89 = 0 THEN NULL
             ELSE LEAST(value * 0.6 - 40.0, 150.0)
        END AS temp_f,
        event_type AS weather_desc,
        CAST(CAST(floor(value) AS BIGINT) % 101 AS INTEGER) AS humidity_pct,
        props AS raw_json,
        ts + to_minutes(5) AS load_ts
    FROM events
    WHERE event_type IN ('view', 'click')
)
"""


# ---------------------------------------------------------------------------
# zones: generated taxi-zone lookup dimension (reference consumes the public
# TLC CSV, `dags/zone_forecast.py:47-56`). IDs 1..35 only, while trips carry
# zones 1..40 — ids 36-40 exercise the left-join NULL path (J3).
# ---------------------------------------------------------------------------

def zones_dim(spark: SparkSession) -> DataFrame:
    z = F.col("id")
    return spark.range(1, 36).select(
        z.cast("int").alias("location_id"),
        F.when(z % 7 == 0, "Manhattan")
        .when(z % 7 == 1, "Brooklyn")
        .when(z % 7 == 2, "Queens")
        .when(z % 7 == 3, "Bronx")
        .when(z % 7 == 4, "Staten Island")
        .when(z % 7 == 5, "EWR")
        .otherwise("Unknown")
        .alias("borough"),
        F.concat(F.lit("zone_"), z.cast("string")).alias("zone"),
        F.when(z % 5 == 0, "Yellow")
        .when(z % 5 == 1, "Boro")
        .when(z % 5 == 2, "Green")
        .when(z % 5 == 3, "Airports")
        .otherwise("N/A")
        .alias("service_zone"),
    )


SQL_ZONES = """
zones AS (
    SELECT
        CAST(z AS INTEGER) AS location_id,
        CASE WHEN z % 7 = 0 THEN 'Manhattan'
             WHEN z % 7 = 1 THEN 'Brooklyn'
             WHEN z % 7 = 2 THEN 'Queens'
             WHEN z % 7 = 3 THEN 'Bronx'
             WHEN z % 7 = 4 THEN 'Staten Island'
             WHEN z % 7 = 5 THEN 'EWR'
             ELSE 'Unknown'
        END AS borough,
        'zone_' || CAST(z AS VARCHAR) AS zone,
        CASE WHEN z % 5 = 0 THEN 'Yellow'
             WHEN z % 5 = 1 THEN 'Boro'
             WHEN z % 5 = 2 THEN 'Green'
             WHEN z % 5 = 3 THEN 'Airports'
             ELSE 'N/A'
        END AS service_zone
    FROM range(1, 36) AS t(z)
)
"""
