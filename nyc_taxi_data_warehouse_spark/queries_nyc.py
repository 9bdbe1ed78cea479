"""NYC-domain query registry: SURVEY §2 operators as (spark_fn, oracle_sql)
pairs over the driver testdata.

Every query rounds float *aggregates* (round 4; sums round 2) in BOTH the
Spark plan and the DuckDB oracle — per-row double arithmetic is bit-exact
across engines, but aggregation order is not; rounding absorbs the ~1e-12
summation-order noise. Ints/strings/timestamps are compared exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .plans import features, intermediate, marts, nyc_views, staging
from .plans.features import (
    SQL_DAILY_WEATHER_FORECAST,
    SQL_FARE_DAILY_FEATURES,
    SQL_ZONE_DEMAND,
)
from .plans.intermediate import SQL_INT_TRIPS_ENRICHED, SQL_INT_WEATHER_HOURLY
from .plans.marts import (
    SQL_MART_DAILY_METRICS,
    SQL_MART_TRIPS_WEATHER,
    SQL_MART_ZONE_ANALYSIS,
)
from .plans.nyc_views import SQL_TRIPS, SQL_WEATHER, SQL_ZONES
from .plans.staging import SQL_STG_TRIPS, SQL_STG_WEATHER


def _with(*fragments: str, select: str) -> str:
    return "WITH " + ",\n".join(f.strip() for f in fragments) + "\n" + select


def _rnd(c, n: int):
    """Epsilon-shifted rounding, mirrored as `round(1e-9 + x, n)` in every
    oracle: aggregate values on a decimal lattice (the testdata has 2-decimal
    inputs) frequently land *exactly* on round-half boundaries, where the two
    engines' ~1e-14 summation-order difference flips the digit. Shifting by
    1e-9 moves the boundary off the lattice; both engines then agree."""
    return F.round(c + F.lit(1e-9), n)


def _r4(c: str) -> F.Column:
    return _rnd(F.col(c), 4).alias(c)


def _r2(c: str) -> F.Column:
    return _rnd(F.col(c), 2).alias(c)


# --- building blocks -------------------------------------------------------

def _trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = nyc_views.load_tables(spark, sf_dir)
    return nyc_views.trips_from_events(t["events"])


def _weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = nyc_views.load_tables(spark, sf_dir)
    return nyc_views.weather_from_events(t["events"])


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return intermediate.int_trips_enriched(staging.stg_taxi_trips(_trips(spark, sf_dir)))


def _weather_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return intermediate.int_weather_hourly(staging.stg_weather(_weather(spark, sf_dir)))


def _fdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the weather feed fans out to two consumers (hourly rollup + daily
    # forecast) — persist the narrow source frame so the events scan +
    # row-wise mapping run once, not twice
    w = _weather(spark, sf_dir).persist()
    daily = marts.mart_daily_metrics(
        _enriched(spark, sf_dir),
        intermediate.int_weather_hourly(staging.stg_weather(w)),
    )
    forecast = features.daily_weather_forecast(w)
    return features.fare_daily_features(daily, forecast)


def _fdf_rounded() -> list:
    # built lazily: Column construction needs an active SparkContext
    return [
        "trip_date",
        _r4("avg_fare"),
        "trip_count",
        _r4("avg_distance"),
        "weekend_trip_count",
        "weekday_trip_count",
        _r4("avg_daily_temperature"),
        _r4("avg_daily_humidity"),
        "is_precip_day",
        _r4("avg_fare_lag1"),
        _r4("avg_fare_lag7"),
        _r4("avg_fare_ma7"),
    ]

_SQL_FDF_ROUNDED = """
SELECT trip_date, round(1e-9 + avg_fare, 4) AS avg_fare, trip_count,
       round(1e-9 + avg_distance, 4) AS avg_distance,
       weekend_trip_count, weekday_trip_count,
       round(1e-9 + avg_daily_temperature, 4) AS avg_daily_temperature,
       round(1e-9 + avg_daily_humidity, 4) AS avg_daily_humidity,
       is_precip_day,
       round(1e-9 + avg_fare_lag1, 4) AS avg_fare_lag1,
       round(1e-9 + avg_fare_lag7, 4) AS avg_fare_lag7,
       round(1e-9 + avg_fare_ma7, 4) AS avg_fare_ma7
FROM fare_daily_features
"""

_SQL_FDF_BLOCKS = (
    SQL_TRIPS,
    SQL_WEATHER,
    SQL_STG_TRIPS,
    SQL_STG_WEATHER,
    SQL_INT_TRIPS_ENRICHED,
    SQL_INT_WEATHER_HOURLY,
    SQL_MART_DAILY_METRICS,
    SQL_DAILY_WEATHER_FORECAST,
    SQL_FARE_DAILY_FEATURES,
)


# --- queries ---------------------------------------------------------------

def q_stg_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: staging quality predicate (6 conjuncts + inter-column theta)."""
    return staging.stg_taxi_trips(_trips(spark, sf_dir))


def q_stg_weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: weather staging rename+filter."""
    return staging.stg_weather(_weather(spark, sf_dir))


def q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1-E10: the Snowflake-compat expression layer, one row per trip."""
    return _enriched(spark, sf_dir)


def q_weather_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: hourly multi-observation rollup with deterministic argmax."""
    return _weather_hourly(spark, sf_dir).select(
        "observation_hour",
        "city",
        _r4("avg_temperature_fahrenheit"),
        "min_temperature_fahrenheit",
        "max_temperature_fahrenheit",
        _r4("avg_humidity_percent"),
        "weather_description",
        "observation_count",
        "latest_observation_at",
    )


def q_trips_weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A2 flagship: hourly trips × weather, LEFT join w/ LIKE residual."""
    m = marts.mart_trips_weather(_enriched(spark, sf_dir), _weather_hourly(spark, sf_dir))
    return m.select(
        "hour_ts",
        _r4("avg_temperature_fahrenheit"),
        _r4("avg_humidity_percent"),
        "weather_description",
        "hour_of_day",
        "day_of_week",
        "day_name",
        "is_weekend",
        "trip_count",
        _r4("avg_trip_distance"),
        _r4("avg_total_amount"),
        _r4("avg_trip_duration_minutes"),
        _r4("avg_speed_mph"),
    )


def q_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+A3+A4: daily trip metrics × daily NYC weather."""
    m = marts.mart_daily_metrics(_enriched(spark, sf_dir), _weather_hourly(spark, sf_dir))
    return m.select(
        "trip_date",
        "trip_count",
        _r2("total_revenue"),
        _r4("avg_fare"),
        _r4("avg_distance"),
        _r4("avg_duration_minutes"),
        _r4("avg_passenger_count"),
        "weekend_trip_count",
        "weekday_trip_count",
        _r4("avg_daily_temperature"),
        "min_daily_temperature",
        "max_daily_temperature",
        _r4("avg_daily_humidity"),
    )


def q_zone_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: OD zone-pair mart w/ deterministic peak-hour mode + HAVING."""
    m = marts.mart_zone_analysis(_enriched(spark, sf_dir))
    return m.select(
        "pickup_zone_id",
        "dropoff_zone_id",
        "trip_count",
        _r4("avg_trip_distance"),
        _r4("avg_total_amount"),
        _r4("avg_trip_duration_minutes"),
        _r4("avg_passenger_count"),
        "weekend_trip_count",
        "weekday_trip_count",
        "peak_hour",
    )


def q_zone_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-zone daily demand rollup."""
    z = features.zone_demand(staging.stg_taxi_trips(_trips(spark, sf_dir)))
    return z.select(
        "pickup_zone_id", "trip_date", "trip_count", _r4("avg_distance"), _r4("avg_amount")
    )


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection over the per-zone daily demand series:
    Iglewicz–Hoaglin modified z-score (0.6745·(x−median)/MAD, flag >3.5).
    Median/MAD have a 50% breakdown point, so a feed outage or double-load
    day cannot drag the baseline toward itself the way mean/stddev would.
    Emits every point with its score + flag (the monitoring-table shape)."""
    from .operators import timeseries

    z = features.zone_demand(staging.stg_taxi_trips(_trips(spark, sf_dir))).select(
        "pickup_zone_id", "trip_date", "trip_count"
    )
    out = timeseries.robust_anomalies(z, ["pickup_zone_id"], "trip_count")
    return out.select(
        "pickup_zone_id",
        "trip_date",
        "trip_count",
        _rnd(F.col("med"), 4).alias("med"),
        _rnd(F.col("mad"), 4).alias("mad"),
        _rnd(F.col("rz"), 4).alias("rz"),
        "is_anomaly",
    )


_SQL_ANOMALY_MAD_SELECT = """
, zd AS (SELECT pickup_zone_id, trip_date, trip_count FROM zone_demand)
, m1 AS (
    SELECT *, quantile_cont(trip_count, 0.5)
              OVER (PARTITION BY pickup_zone_id) AS med
    FROM zd
)
, m2 AS (
    SELECT *, quantile_cont(abs(trip_count - med), 0.5)
              OVER (PARTITION BY pickup_zone_id) AS mad
    FROM m1
)
SELECT pickup_zone_id, trip_date, trip_count,
       round(1e-9 + med, 4) AS med,
       round(1e-9 + mad, 4) AS mad,
       CASE WHEN mad > 0
            THEN round(1e-9 + 0.6745 * (trip_count - med) / mad, 4)
       END AS rz,
       CAST(CASE WHEN mad > 0
                  AND abs(0.6745 * (trip_count - med) / mad) > 3.5
                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM m2"""


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling median per zone (the outlier-proof moving
    baseline beside W2's ma7): exact windowed percentile, frame-bounded
    state, order-statistic determinism.  Reported next to the mean-based
    ma7 so the divergence between the two IS the outlier signal."""
    from .operators import timeseries

    z = features.zone_demand(staging.stg_taxi_trips(_trips(spark, sf_dir))).select(
        "pickup_zone_id", "trip_date", "trip_count"
    )
    out = timeseries.rolling_median(
        z, ["pickup_zone_id"], "trip_date", "trip_count", window=7
    )
    wavg = (
        Window.partitionBy("pickup_zone_id")
        .orderBy("trip_date")
        .rowsBetween(-6, 0)
    )
    return out.withColumn("ma7", F.avg("trip_count").over(wavg)).select(
        "pickup_zone_id",
        "trip_date",
        "trip_count",
        _rnd(F.col("rolling_med"), 4).alias("rolling_med"),
        _rnd(F.col("ma7"), 4).alias("ma7"),
    )


_SQL_ROLLING_MEDIAN_SELECT = """
, zd AS (SELECT pickup_zone_id, trip_date, trip_count FROM zone_demand)
SELECT pickup_zone_id, trip_date, trip_count,
       round(1e-9 + quantile_cont(trip_count, 0.5) OVER w, 4) AS rolling_med,
       round(1e-9 + avg(trip_count) OVER w, 4) AS ma7
FROM zd
WINDOW w AS (PARTITION BY pickup_zone_id ORDER BY trip_date
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""


def q_zone_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: broadcast LEFT join to the zone-lookup dimension, borough rollup
    (unmatched zones land in the NULL-borough bucket)."""
    t = staging.stg_taxi_trips(_trips(spark, sf_dir))
    z = nyc_views.zones_dim(spark)
    joined = t.join(
        F.broadcast(z), t.pickup_zone_id == z.location_id, "left"
    )
    return joined.groupBy("borough").agg(
        F.count(F.lit(1)).alias("trip_count"),
        _rnd(F.avg("total_amount"), 4).alias("avg_amount"),
    )


def q_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: hours with trips but no 'NEW YORK' weather observation (backfill
    gap list; city-filtered so gaps exist at every scale factor)."""
    t = staging.stg_taxi_trips(_trips(spark, sf_dir))
    w = staging.stg_weather(_weather(spark, sf_dir)).where(F.col("city") == "NEW YORK")
    trip_hours = t.select(F.date_trunc("hour", "pickup_datetime").alias("hour_ts")).distinct()
    weather_hours = w.select(F.date_trunc("hour", "observed_at").alias("hour_ts")).distinct()
    return trip_hours.join(weather_hours, "hour_ts", "left_anti")


def q_distinct_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: SELECT DISTINCT date_trunc('hour', …)."""
    w = staging.stg_weather(_weather(spark, sf_dir))
    return w.select(F.date_trunc("hour", "observed_at").alias("hour_ts")).distinct()


def q_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: min/max scan over pickup timestamps."""
    t = staging.stg_taxi_trips(_trips(spark, sf_dir))
    return t.agg(
        F.min("pickup_datetime").alias("min_pickup"),
        F.max("pickup_datetime").alias("max_pickup"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_precip_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: daily forecast rollup with precip-day flag."""
    d = features.daily_weather_forecast(_weather(spark, sf_dir))
    return d.select(
        "forecast_date", _r4("avg_temperature"), _r4("avg_humidity"), "is_precip_day"
    )


def q_fare_daily_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2: the reconstructed FARE_DAILY_FEATURES table (lags + MA7)."""
    return _fdf(spark, sf_dir).select(*_fdf_rounded())


def q_lag_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 isolated: daily value series with lag1/lag7/ma7 over events."""
    from pyspark.sql import Window

    t = nyc_views.load_tables(spark, sf_dir)
    daily = t["events"].groupBy(F.to_date("ts").alias("d")).agg(
        F.avg("value").alias("v")
    )
    w = Window.orderBy("d")
    return daily.select(
        "d",
        _r4("v"),
        _rnd(F.lag("v", 1).over(w), 4).alias("v_lag1"),
        _rnd(F.lag("v", 7).over(w), 4).alias("v_lag7"),
        _rnd(F.avg("v").over(w.rowsBetween(-6, 0)), 4).alias("v_ma7"),
    )


def q_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/O2: latest feature row (ORDER BY trip_date DESC LIMIT 1)."""
    return _fdf(spark, sf_dir).orderBy(F.desc("trip_date")).limit(1).select(*_fdf_rounded())


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11+W5: hindcast eval over the trailing 7-day window — MAE and MAPE of
    the MA7 'prediction' vs actual avg_fare."""
    f = _fdf(spark, sf_dir)
    max_d = f.agg(F.max("trip_date").alias("max_d"))
    win = f.join(F.broadcast(max_d)).where(
        F.col("trip_date") > F.date_sub(F.col("max_d"), 7)
    )
    err = win.select(
        (F.col("avg_fare") - F.col("avg_fare_ma7")).alias("err"),
        F.col("avg_fare").alias("actual"),
    )
    return err.agg(
        _rnd(F.avg(F.abs(F.col("err"))), 4).alias("mae"),
        _rnd(F.avg(F.abs(F.col("err") / F.col("actual"))), 4).alias("mape"),
        F.count(F.lit(1)).alias("n_days"),
    )


def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FORECAST_EVAL relation (`dags/Forecast_evaluation.py:61-86`)
    through the ml chain's own `hindcast_window` + `eval_frame`, with the
    predictor pinned to seasonal-naive (predicted := avg_fare_lag7, the
    same-weekday-last-week baseline).

    The RF's numeric output is library-specific (Spark-ML vs sklearn —
    structural parity only, pytest-verified); pinning the predictor makes
    the evaluation FRAME itself relational, so the exact code path the RF
    result flows through gets a driver CORRECTNESS row."""
    from .ml import forecast as ml_forecast

    f = _fdf(spark, sf_dir)
    pred = ml_forecast.hindcast_window(f).select(
        F.col("trip_date").alias("eval_date"),
        F.col("avg_fare").alias("actual_fare"),
        F.col("avg_fare_lag7").alias("predicted_fare"),
    )
    ev = ml_forecast.eval_frame(pred)
    return ev.select(
        "eval_date",
        "row_type",
        _r4("actual_fare"),
        _r4("predicted_fare"),
        _rnd(F.col("error"), 4).alias("error"),
        _rnd(F.col("mape"), 6).alias("mape"),
    )


def q_union_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: per-day eval rows UNION ALL a NULL-dated summary row (MAE/MAPE)."""
    f = _fdf(spark, sf_dir)
    max_d = f.agg(F.max("trip_date").alias("max_d"))
    win = f.join(F.broadcast(max_d)).where(
        F.col("trip_date") > F.date_sub(F.col("max_d"), 7)
    )
    rows = win.select(
        F.col("trip_date").alias("eval_date"),
        F.lit("day").alias("row_type"),
        _rnd(F.abs(F.col("avg_fare") - F.col("avg_fare_ma7")), 4).alias("abs_error"),
        _rnd(
            F.abs((F.col("avg_fare") - F.col("avg_fare_ma7")) / F.col("avg_fare")), 4
        ).alias("abs_pct_error"),
    )
    summary = win.agg(
        F.lit(None).cast("date").alias("eval_date"),
        F.lit("summary").alias("row_type"),
        _rnd(F.avg(F.abs(F.col("avg_fare") - F.col("avg_fare_ma7"))), 4).alias(
            "abs_error"
        ),
        _rnd(
            F.avg(F.abs((F.col("avg_fare") - F.col("avg_fare_ma7")) / F.col("avg_fare"))),
            4,
        ).alias("abs_pct_error"),
    )
    return rows.unionByName(summary)


def q_merge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/J5: insert-only MERGE on a 6-col natural key, expressed as
    target ∪ (staging LEFT ANTI target); verified via per-flag rollup."""
    from .operators.merge import merge_insert_only

    t = nyc_views.load_tables(spark, sf_dir)
    li = t["lineitem"]
    target = li.where(F.col("l_linenumber") <= 4)
    staging_df = li.where(F.col("l_linenumber") >= 4)
    key = [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
    ]
    merged = merge_insert_only(target, staging_df, key)
    return merged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("row_count"),
        _rnd(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P3: select/rename/cast projection with positive-value filters."""
    t = nyc_views.load_tables(spark, sf_dir)
    li = t["lineitem"]
    return li.where((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)).select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").cast("int").alias("line_number"),
        F.floor("l_quantity").cast("int").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_returnflag").alias("return_flag"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13: VARIANT-style JSON field access over the raw payload column."""
    w = _weather(spark, sf_dir)
    return w.select(
        "obs_id",
        F.get_json_object("raw_json", "$.k").cast("int").alias("k_value"),
    )


def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via the VARIANT type (Spark 4):
    `try_parse_json` parses each payload ONCE into the binary variant
    encoding (malformed rows → NULL instead of a job abort — every 97th
    payload is deterministically corrupted to prove it), then
    `try_variant_get` does typed path extraction.  At scale this is the
    replacement for per-field `get_json_object` re-parsing: one parse, many
    typed reads.  Rollup: per-city row/bad counts + mean extracted k."""
    w = _weather(spark, sf_dir)
    mangled = F.when(
        F.col("obs_id") % 97 == 0, F.concat(F.lit("{bad"), F.col("raw_json"))
    ).otherwise(F.col("raw_json"))
    v = F.try_parse_json(mangled)
    parsed = w.select(
        "city",
        v.alias("v"),
        F.try_variant_get(v, "$.k", "int").alias("k"),
    )
    return parsed.groupBy("city").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_bad"),
        _rnd(F.avg("k"), 6).alias("avg_k"),
    )


_SQL_VARIANT_JSON_SELECT = """
, m AS (
    SELECT city,
           CASE WHEN obs_id % 97 = 0 THEN '{bad' || raw_json
                ELSE raw_json END AS j
    FROM weather
)
SELECT city,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(CASE WHEN NOT json_valid(j) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bad,
       round(1e-9 + avg(CASE WHEN json_valid(j)
                             THEN CAST(json_extract_string(j, '$.k') AS INTEGER)
                        END), 6) AS avg_k
FROM m GROUP BY 1"""


def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15: dbt_utils-style md5 surrogate key over (city, observed_at).
    Timestamp rendered with an explicit format — engines' default
    timestamp→string casts differ."""
    from .functions.compat import surrogate_key

    w = _weather(spark, sf_dir)
    return w.select(
        "obs_id",
        surrogate_key(
            F.col("city"), F.date_format("observed_at", "yyyy-MM-dd HH:mm:ss")
        ).alias("weather_key"),
    )


def q_backfill_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14+J4: the weather-backfill fallback — missing hours (anti-join gap
    list) filled with the deterministic seasonal estimator (month→base-temp
    map + hour-of-day adjustment, `weather_historical_backfill.py:258-279`)."""
    from .sources.readers import synthetic_weather_estimate

    t = staging.stg_taxi_trips(_trips(spark, sf_dir))
    w = staging.stg_weather(_weather(spark, sf_dir)).where(F.col("city") == "NEW YORK")
    trip_hours = t.select(
        F.date_trunc("hour", "pickup_datetime").alias("hour_ts")
    ).distinct()
    weather_hours = w.select(
        F.date_trunc("hour", "observed_at").alias("hour_ts")
    ).distinct()
    missing = trip_hours.join(weather_hours, "hour_ts", "left_anti")
    return synthetic_weather_estimate(spark, missing).drop("raw_json")


_SQL_BACKFILL_SYNTHETIC = """
SELECT hour_ts AS observed_at,
       'New York' AS city,
       -- CAST: DuckDB decimal literal arithmetic yields DECIMAL(4,1); Spark double
       CAST(CASE WHEN month(hour_ts) IN (12, 1, 2) THEN 35.0
             WHEN month(hour_ts) IN (3, 4, 5) THEN 55.0
             WHEN month(hour_ts) IN (6, 7, 8) THEN 78.0
             ELSE 60.0 END
        + CASE WHEN hour(hour_ts) BETWEEN 6 AND 11 THEN 3.0
               WHEN hour(hour_ts) BETWEEN 12 AND 17 THEN 8.0
               WHEN hour(hour_ts) BETWEEN 18 AND 22 THEN 2.0
               ELSE -4.0 END AS DOUBLE) AS temp_f,
       'partly cloudy' AS weather_desc,
       CAST(60 AS INTEGER) AS humidity_pct,
       hour_ts AS load_ts
FROM (
    SELECT th.hour_ts
    FROM (SELECT DISTINCT date_trunc('hour', pickup_datetime) AS hour_ts FROM stg_trips) th
    LEFT JOIN (SELECT DISTINCT date_trunc('hour', observed_at) AS hour_ts
               FROM stg_weather WHERE city = 'NEW YORK') wh
      ON th.hour_ts = wh.hour_ts
    WHERE wh.hour_ts IS NULL
)"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AS-OF join: each sampled trip gains the latest NEW YORK weather
    observation at or before pickup (2h tolerance) — union-sort-ffill
    formulation, one shuffle, no per-row search. DuckDB's native ASOF JOIN
    is the oracle."""
    from .operators.asof import asof_join_latest

    probes = staging.stg_taxi_trips(_trips(spark, sf_dir)).where(
        F.col("pickup_zone_id") % 7 == 0
    ).select("pickup_datetime", "total_amount")
    obs = staging.stg_weather(_weather(spark, sf_dir)).where(
        F.col("city") == "NEW YORK"
    ).select("observed_at", "temperature_fahrenheit")
    return asof_join_latest(
        probes,
        obs,
        probe_ts="pickup_datetime",
        obs_ts="observed_at",
        value_cols=["temperature_fahrenheit"],
        tolerance_minutes=120,
    )


_SQL_ASOF_JOIN = """
SELECT p.pickup_datetime, p.total_amount,
       CASE WHEN o.observed_at >= p.pickup_datetime - INTERVAL 120 MINUTE
            THEN o.observed_at END AS matched_obs_ts,
       CASE WHEN o.observed_at >= p.pickup_datetime - INTERVAL 120 MINUTE
            THEN o.temperature_fahrenheit END AS temperature_fahrenheit
FROM (SELECT pickup_datetime, total_amount FROM stg_trips
      WHERE pickup_zone_id % 7 = 0) p
ASOF LEFT JOIN (SELECT observed_at,
                       max(temperature_fahrenheit) AS temperature_fahrenheit
                FROM stg_weather WHERE city = 'NEW YORK'
                GROUP BY observed_at) o
  ON p.pickup_datetime >= o.observed_at"""


_ASOF_CITIES = ["New York", "new york city", "Boston", "NEW YORK"]


def q_asof_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SERIES as-of join — the 100 TB form of q_asof_join: the
    union-sort-ffill window partitions by the series key (city), so
    every series sorts independently inside its own hash partition and
    the single-series global sort (bounded-series-only, documented at
    operators/asof.py) never happens.  Each sampled trip, routed to one
    of the four weather series by zone, gains that series' latest
    observation at or before pickup (2h tolerance).  DuckDB's native
    multi-key ASOF JOIN (equality on city + inequality on time) is the
    oracle."""
    from .operators.asof import asof_join_latest

    cities = F.array(*[F.lit(c) for c in _ASOF_CITIES])
    probes = (
        staging.stg_taxi_trips(_trips(spark, sf_dir))
        .where(F.col("pickup_zone_id") % 5 == 0)
        .select(
            F.element_at(
                cities, (F.col("pickup_zone_id") % 4 + 1).cast("int")
            ).alias("city"),
            "pickup_datetime",
            "total_amount",
        )
    )
    obs = staging.stg_weather(_weather(spark, sf_dir)).select(
        "city", "observed_at", "temperature_fahrenheit"
    )
    return asof_join_latest(
        probes,
        obs,
        probe_ts="pickup_datetime",
        obs_ts="observed_at",
        value_cols=["temperature_fahrenheit"],
        tolerance_minutes=120,
        series_cols=["city"],
    )


_SQL_ASOF_MULTI = f"""
SELECT p.city, p.pickup_datetime, p.total_amount,
       CASE WHEN o.observed_at >= p.pickup_datetime - INTERVAL 120 MINUTE
            THEN o.observed_at END AS matched_obs_ts,
       CASE WHEN o.observed_at >= p.pickup_datetime - INTERVAL 120 MINUTE
            THEN o.temperature_fahrenheit END AS temperature_fahrenheit
FROM (SELECT ([{", ".join(map(repr, _ASOF_CITIES))}])[pickup_zone_id % 4 + 1] AS city,
             pickup_datetime, total_amount
      FROM stg_trips WHERE pickup_zone_id % 5 = 0) p
ASOF LEFT JOIN (SELECT city, observed_at,
                       max(temperature_fahrenheit) AS temperature_fahrenheit
                FROM stg_weather GROUP BY city, observed_at) o
  ON p.city = o.city AND p.pickup_datetime >= o.observed_at"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: sampled trips × hot-weather periods whose
    [start, end] intervals overlap — hour-bucket-exploded so Catalyst plans
    an equi-join instead of a nested-loop theta join."""
    from .operators.asof import interval_overlap_join

    t = staging.stg_taxi_trips(_trips(spark, sf_dir)).where(
        F.col("pickup_zone_id") % 17 == 0
    ).select("pickup_datetime", "dropoff_datetime", "total_amount")
    periods = (
        staging.stg_weather(_weather(spark, sf_dir))
        .where((F.col("city") == "NEW YORK") & (F.col("temperature_fahrenheit") > 80))
        .select(
            F.col("observed_at").alias("period_start"),
            F.timestamp_add("MINUTE", F.lit(30), "observed_at").alias("period_end"),
            "temperature_fahrenheit",
        )
    )
    return interval_overlap_join(
        t, periods, "pickup_datetime", "dropoff_datetime", "period_start", "period_end"
    )


_SQL_INTERVAL_JOIN = """
SELECT t.pickup_datetime, t.dropoff_datetime, t.total_amount,
       p.period_start, p.period_end, p.temperature_fahrenheit
FROM (SELECT pickup_datetime, dropoff_datetime, total_amount FROM stg_trips
      WHERE pickup_zone_id % 17 = 0) t
JOIN (SELECT observed_at AS period_start,
             observed_at + INTERVAL 30 MINUTE AS period_end,
             temperature_fahrenheit
      FROM stg_weather
      WHERE city = 'NEW YORK' AND temperature_fahrenheit > 80) p
  ON t.pickup_datetime <= p.period_end AND p.period_start <= t.dropoff_datetime"""


def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent trips in flight per day — the interval-sweep
    counting op (fleet sizing / peak-load): every trip contributes a +1
    boundary at pickup and a −1 at dropoff, boundaries encode to a single
    sortable integer ``epoch_micros·2 + is_start`` (the dropoff bit sorts
    first at an equal instant — half-open intervals, back-to-back trips
    never overlap), and the running level is an exact cumulative sum over
    the boundary stream via `bucketed_value_cumsum` — the distributed-CDF
    primitive, NEVER an unpartitioned window.  A zero-weight marker at
    each spanned day's midnight captures the carry-in level of trips
    spanning midnight, so a day's max covers its opening plateau.  The
    day spine is EVERY calendar day each trip touches (explode of the
    pickup→dropoff date `sequence`, bounded by the staging predicate's
    trip-duration cap) — not just boundary days — so a day lying wholly
    inside a multi-day trip still reports its plateau level."""
    from .operators.sampling import bucketed_value_cumsum

    t = staging.stg_taxi_trips(_trips(spark, sf_dir)).where(
        F.col("pickup_datetime").isNotNull()
        & F.col("dropoff_datetime").isNotNull()
    ).select("pickup_datetime", "dropoff_datetime")
    starts = t.select(
        (F.unix_micros("pickup_datetime") * 2 + 1).alias("enc"),
        F.lit(1).alias("delta"),
    )
    ends = t.select(
        (F.unix_micros("dropoff_datetime") * 2).alias("enc"),
        F.lit(-1).alias("delta"),
    )
    days = (
        t.select(
            F.explode(
                F.sequence(
                    F.to_date("pickup_datetime"),
                    F.to_date("dropoff_datetime"),
                )
            ).alias("d")
        )
        .distinct()
        .select(
            (F.unix_micros(F.col("d").cast("timestamp")) * 2).alias("enc"),
            F.lit(0).alias("delta"),
        )
    )
    # edge sketch over the starts leg only: one scan instead of the full
    # 3-leg union (which re-pays the days-distinct exchange); dropoffs
    # track pickups closely so bucket balance is unaffected, and the
    # cumsum is bit-identical under any monotone edges
    run = bucketed_value_cumsum(
        starts.unionByName(ends).unionByName(days), "enc",
        weight_col="delta",
        edges_from=starts,
    )
    return (
        run.select(
            F.to_date(F.timestamp_micros(F.expr("__v div 2"))).alias("day"),
            F.col("__cle").alias("run"),
        )
        .groupBy("day")
        .agg(F.max("run").cast("long").alias("max_concurrent"))
    )


_SQL_CONCURRENCY = """
SELECT CAST(make_timestamp(enc // 2) AS DATE) AS day,
       CAST(max(run) AS BIGINT) AS max_concurrent
FROM (
    SELECT enc, sum(delta) OVER (
        ORDER BY enc RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS run
    FROM (
        SELECT epoch_us(pickup_datetime) * 2 + 1 AS enc, 1 AS delta
        FROM t
        UNION ALL
        SELECT epoch_us(dropoff_datetime) * 2 AS enc, -1 AS delta FROM t
        UNION ALL
        SELECT epoch_us(CAST(d AS TIMESTAMP)) * 2 AS enc, 0 AS delta
        FROM (
            SELECT DISTINCT CAST(unnest(generate_series(
                CAST(pickup_datetime AS DATE),
                CAST(dropoff_datetime AS DATE),
                INTERVAL 1 DAY)) AS DATE) AS d
            FROM t
        )
    )
)
GROUP BY 1"""


_SQL_CONCURRENCY_T = """
t AS (
    SELECT pickup_datetime, dropoff_datetime FROM stg_trips
    WHERE pickup_datetime IS NOT NULL AND dropoff_datetime IS NOT NULL
)"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers having at least one high-value
    order — the membership-filter join that never duplicates the left side."""
    t = nyc_views.load_tables(spark, sf_dir)
    big = t["orders"].where(F.col("o_totalprice") > 200000)
    return (
        t["customer"]
        .join(big, t["customer"].c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment", "c_nationkey")
    )


_SQL_SEMI_JOIN = """
SELECT c_custkey, c_mktsegment, c_nationkey
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
)"""


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated semi-join (explicit runtime filter): lineitems of
    top-price orders.  The selective order-key set compresses into a
    broadcast bitset that prunes the fact scan MAP-SIDE before any shuffle;
    the confirming semi-join then touches only survivors, so the result
    equals the plain semi-join (the oracle) while the fact-side exchange
    carries ~a tenth of the rows.  At 100 TB this is the difference between
    shuffling the whole fact table and shuffling the matching slice."""
    from .operators import bloom

    t = nyc_views.load_tables(spark, sf_dir)
    sel = (
        t["orders"]
        .where(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    kept = bloom.bloom_semi_join(t["lineitem"], sel, "l_orderkey")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("sum_qty"),
    )


_SQL_BLOOM_JOIN = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 450000
)
GROUP BY 1"""


def q_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window family: percent_rank, cume_dist, and
    quartile ntile of order price within each segment (sampled customers
    keep the gate fast; ties broken on order key for determinism)."""
    from pyspark.sql import Window

    t = nyc_views.load_tables(spark, sf_dir)
    o = t["orders"].where(F.col("o_custkey") % 100 == 0)
    joined = o.join(
        t["customer"].select("c_custkey", "c_mktsegment"),
        o.o_custkey == F.col("c_custkey"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return joined.select(
        "c_mktsegment",
        "o_orderkey",
        _rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
        _rnd(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


_SQL_WINDOW_STATS = """
SELECT c.c_mktsegment, o.o_orderkey,
       round(1e-9 + percent_rank() OVER w, 6) AS pct_rank,
       round(1e-9 + cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_custkey % 100 = 0
WINDOW w AS (PARTITION BY c.c_mktsegment
             ORDER BY o.o_totalprice ASC, o.o_orderkey ASC)"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family: top-3 orders by price within each market
    segment (row_number + dense_rank; deterministic tie-break on order
    key). Scale shape: `sampling.top_k_prune` first — 5 segments over the
    whole orders table would otherwise each sort corpus/5 rows in ONE
    WindowExec task; the salted two-phase prune keeps ≤ 3·64 candidates
    per segment with structural (not probabilistic) completeness, and the
    final window's rn/drk values are provably identical on the survivors
    (every row ranked ahead of a true top-3 row is itself top-3)."""
    from pyspark.sql import Window

    from .operators.sampling import top_k_prune

    t = nyc_views.load_tables(spark, sf_dir)
    o, c = t["orders"], t["customer"]
    joined = o.join(
        c.select("c_custkey", "c_mktsegment"),
        o.o_custkey == F.col("c_custkey"),
    )
    order = [F.desc("o_totalprice"), F.asc("o_orderkey")]
    pruned = top_k_prune(
        joined, ["c_mktsegment"], order, k=3, salt_key="o_orderkey"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(*order)
    return (
        pruned.select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.dense_rank().over(w).alias("drk"),
        )
        .where(F.col("rn") <= 3)
    )


_SQL_TOPK_PER_GROUP = """
WITH ranked AS (
    SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
           row_number() OVER (PARTITION BY c.c_mktsegment
                              ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rn,
           dense_rank() OVER (PARTITION BY c.c_mktsegment
                              ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS drk
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, o_orderkey, o_totalprice,
       CAST(rn AS INTEGER) AS rn, CAST(drk AS INTEGER) AS drk
FROM ranked WHERE rn <= 3"""


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (batch form of the stateful sessionizer):
    per-user sessions with a 30-minute inactivity gap via
    `F.session_window` — Catalyst's built-in data-dependent window. The
    oracle is the classic gaps-and-islands formulation (lag + cumulative
    new-session flags), which defines identical session boundaries."""
    ev = nyc_views.load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            _rnd(F.sum("value"), 2).alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


_SQL_SESSIONS = """
WITH flagged AS (
    SELECT user_id, ts, value,
           -- strict <: Spark's session window is half-open [start, end) —
           -- an event exactly at prev_ts + gap opens a NEW session
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
    FROM events
),
islands AS (
    SELECT user_id, ts, value,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(1e-9 + sum(value), 2) AS total_value
FROM islands GROUP BY user_id, session_id"""


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: complete hour spine per city with
    forward-filled temperature (the generic form of the reference's
    backfill repair — spine via sequence+explode, per-series ffill window)."""
    from .operators.timeseries import resample_ffill

    w = _weather(spark, sf_dir)
    out = resample_ffill(w, "observed_at", ["city"], ["temp_f"])
    return out.select(
        "city",
        "hour_ts",
        _rnd(F.col("temp_f_filled"), 4).alias("temp_f_filled"),
        "temp_f_observed",
    )


_SQL_GAPFILL = """
SELECT city, hour_ts,
       round(1e-9 + last_value(temp_f IGNORE NULLS) OVER (
           PARTITION BY city ORDER BY hour_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS temp_f_filled,
       temp_f IS NOT NULL AS temp_f_observed
FROM (
    SELECT g.city, g.hour_ts, h.temp_f
    FROM (
        SELECT s.city, sp.hour_ts
        FROM (SELECT DISTINCT city FROM weather) s
        CROSS JOIN (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
            FROM (SELECT date_trunc('hour', min(observed_at)) AS lo,
                         date_trunc('hour', max(observed_at)) AS hi
                  FROM weather)
        ) sp
    ) g
    LEFT JOIN (
        SELECT city, date_trunc('hour', observed_at) AS hour_ts, avg(temp_f) AS temp_f
        FROM weather GROUP BY 1, 2
    ) h ON g.city = h.city AND g.hour_ts = h.hour_ts
)"""


def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill per city — the repair q_gapfill's
    forward-fill can't give on a drifting quantity (a temperature ramp
    forward-filled is a staircase; interpolated it's the ramp), and the
    hypertable `interpolate()` idiom time-series stores ship natively.
    Spine hours between two observations take
    prev + (next−prev)·elapsed/gap; before-first / after-last stay NULL
    (no extrapolation — the honesty q_backfill_synthetic's flagged
    synthesis deliberately trades away)."""
    from .operators.timeseries import resample_interpolate

    w = _weather(spark, sf_dir)
    out = resample_interpolate(w, "observed_at", ["city"], "temp_f")
    return out.select(
        "city",
        "hour_ts",
        _rnd(F.col("temp_f_interp"), 4).alias("temp_f_interp"),
        "temp_f_observed",
    )


_SQL_INTERPOLATE = """
SELECT city, hour_ts,
       round(1e-9 + (CASE WHEN v IS NOT NULL THEN v
             WHEN pt IS NULL OR nt IS NULL THEN NULL
             ELSE pv + (nv - pv)
                  * (CAST(date_diff('second', pt, hour_ts) AS DOUBLE)
                     / date_diff('second', pt, nt)) END), 4) AS temp_f_interp,
       v IS NOT NULL AS temp_f_observed
FROM (
    SELECT city, hour_ts, v,
           last_value(CASE WHEN v IS NOT NULL THEN hour_ts END IGNORE NULLS)
               OVER wb AS pt,
           last_value(v IGNORE NULLS) OVER wb AS pv,
           first_value(CASE WHEN v IS NOT NULL THEN hour_ts END IGNORE NULLS)
               OVER wf AS nt,
           first_value(v IGNORE NULLS) OVER wf AS nv
    FROM (
        SELECT g.city, g.hour_ts, h.v
        FROM (
            SELECT s.city, sp.hour_ts
            FROM (SELECT DISTINCT city FROM weather) s
            CROSS JOIN (
                SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                       AS hour_ts
                FROM (SELECT date_trunc('hour', min(observed_at)) AS lo,
                             date_trunc('hour', max(observed_at)) AS hi
                      FROM weather)
            ) sp
        ) g
        LEFT JOIN (
            SELECT city, date_trunc('hour', observed_at) AS hour_ts,
                   avg(temp_f) AS v
            FROM weather GROUP BY 1, 2
        ) h ON g.city = h.city AND g.hour_ts = h.hour_ts
    )
    WINDOW wb AS (PARTITION BY city ORDER BY hour_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY city ORDER BY hour_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (borough → service_zone → grand total) over the
    zone-joined trips — the multi-level summary table a BI layer reads.
    `grouping_id()` bitmasks match DuckDB's GROUPING() bit-for-bit."""
    t = staging.stg_taxi_trips(_trips(spark, sf_dir))
    z = nyc_views.zones_dim(spark)
    joined = t.join(F.broadcast(z), t.pickup_zone_id == z.location_id, "left")
    return joined.rollup("borough", "service_zone").agg(
        F.count(F.lit(1)).alias("trip_count"),
        _rnd(F.sum("total_amount"), 2).alias("revenue"),
        F.grouping_id().alias("level_id"),
    )


_SQL_ROLLUP = """
SELECT z.borough, z.service_zone, count(*) AS trip_count,
       round(1e-9 + sum(t.total_amount), 2) AS revenue,
       GROUPING(z.borough, z.service_zone) AS level_id
FROM stg_trips t
LEFT JOIN zones z ON t.pickup_zone_id = z.location_id
GROUP BY ROLLUP(z.borough, z.service_zone)"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (cross-tab): daily event counts spread across event types —
    `groupBy().pivot()` with an explicit value list (explicit values keep
    the schema static, which is also the 100 TB-safe form: no extra pass to
    discover pivot columns)."""
    ev = nyc_views.load_tables(spark, sf_dir)["events"]
    types = ["view", "click", "purchase", "signup"]
    return (
        ev.groupBy(F.to_date("ts").alias("event_date"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


_SQL_PIVOT = """
SELECT CAST(ts AS DATE) AS event_date,
       count(*) FILTER (WHERE event_type = 'view') AS view,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup
FROM events GROUP BY 1"""


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12: the dbt declarative test suite as a relational violation
    report, run against the RAW feeds (pre-staging) where violations exist
    — not_null / accepted_range / unique, dbt failure semantics."""
    from .operators import quality

    t = _trips(spark, sf_dir)
    w = _weather(spark, sf_dir)
    # the row checks of each table fuse into ONE scan (see
    # quality.violation_report); only the grouped `unique` check needs its
    # own aggregation
    return quality.violation_report(
        {
            "trips.pickup_not_null": quality.not_null(t, "pickup_datetime"),
            "trips.dropoff_not_null": quality.not_null(t, "dropoff_datetime"),
            "trips.pickup_zone_not_null": quality.not_null(t, "pickup_zone_id"),
            "trips.distance_range": quality.accepted_range(
                t, "trip_distance", min_value=0, inclusive=False
            ),
            "trips.amount_range": quality.accepted_range(
                t, "total_amount", min_value=0, inclusive=False
            ),
            "weather.temp_not_null": quality.not_null(w, "temp_f"),
            "weather.humidity_range": quality.accepted_range(w, "humidity_pct", 0, 100),
            "weather.desc_accepted": quality.RowCheck(
                w, F.col("weather_desc").isNotNull() & ~F.col("weather_desc").isin("view")
            ),
            "weather.obs_key_unique": quality.unique(w, "city", "observed_at"),
        }
    )


_SQL_QUALITY_REPORT = """
SELECT 'trips.pickup_not_null' AS check_name, count(*) AS violations
FROM trips WHERE pickup_datetime IS NULL
UNION ALL
SELECT 'trips.dropoff_not_null', count(*) FROM trips WHERE dropoff_datetime IS NULL
UNION ALL
SELECT 'trips.pickup_zone_not_null', count(*) FROM trips WHERE pickup_zone_id IS NULL
UNION ALL
SELECT 'trips.distance_range', count(*) FROM trips
WHERE trip_distance IS NOT NULL AND trip_distance <= 0
UNION ALL
SELECT 'trips.amount_range', count(*) FROM trips
WHERE total_amount IS NOT NULL AND total_amount <= 0
UNION ALL
SELECT 'weather.temp_not_null', count(*) FROM weather WHERE temp_f IS NULL
UNION ALL
SELECT 'weather.humidity_range', count(*) FROM weather
WHERE humidity_pct IS NOT NULL AND (humidity_pct < 0 OR humidity_pct > 100)
UNION ALL
SELECT 'weather.obs_key_unique', count(*) FROM (
    SELECT city, observed_at FROM weather
    GROUP BY 1, 2 HAVING count(*) > 1
)
UNION ALL
SELECT 'weather.desc_accepted', count(*) FROM weather
WHERE weather_desc IS NOT NULL AND weather_desc NOT IN ('view')"""


def q_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: `df.na.drop(subset=[4 key cols])` — the PySpark-ETL null gate
    (reference `dags/etl_spark_historical.py:191`)."""
    t = _trips(spark, sf_dir)
    return t.na.drop(
        subset=[
            "pickup_datetime",
            "dropoff_datetime",
            "pickup_zone_id",
            "dropoff_zone_id",
        ]
    )


def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/O6: ingestion row cap. The reference's `limit(200_000)` takes an
    arbitrary subset; for oracle determinism we cap after a total order on
    the (l_orderkey, l_linenumber) unique key — Spark plans it as
    TakeOrderedAndProject (no full sort materialization)."""
    li = nyc_views.load_tables(spark, sf_dir)["lineitem"]
    return (
        li.orderBy("l_orderkey", "l_linenumber")
        .limit(5000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic OLAP star aggregation over the TPC-H-shaped tables (the
    relational path the engine serves beside the NYC marts): lineitem ⋈
    orders ⋈ customer shuffle on their keys while nation and region ride as
    broadcast dims, with a pushed date predicate on the fact scan. Revenue
    is summed in exact 1e-4-unit integers (price/discount are 2-decimal
    lattice inputs), so the aggregate is associative and summation-order
    free — the scale-safe form of a money SUM (double accumulation order is
    nondeterministic under AQE re-partitioning). `n_orders` exercises the
    distinct-aggregate path."""
    t = nyc_views.load_tables(spark, sf_dir)
    rev_units = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    j = (
        t["lineitem"]
        .where(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.groupBy("r_name", "n_name").agg(
        (F.sum(rev_units) / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


_SQL_STAR_JOIN = """
SELECT r_name, n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                     AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
       count(*) AS n_items,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY r_name, n_name"""


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-curve clustering diagnostic (`operators/zorder`): each
    lineitem row maps to the 16-bit z-value of its rank-bucketed
    (l_partkey, l_suppkey), rolled up to 1024 curve cells with per-cell
    key bounds — the rectangle stats that predict parquet file-skipping
    quality after a `write_zordered` layout. Bounds ride a 1-row
    broadcast-aggregate crossJoin; the interleave is an unrolled JVM
    shift/mask sum, all integer-exact."""
    from .operators import zorder

    li = nyc_views.load_tables(spark, sf_dir)["lineitem"].select(
        "l_partkey", "l_suppkey"
    )
    z = zorder.with_zvalue(li, "l_partkey", "l_suppkey")
    return z.groupBy(F.shiftright(F.col("z"), 6).alias("z_cell")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("min_pk"),
        F.max("l_partkey").alias("max_pk"),
        F.min("l_suppkey").alias("min_sk"),
        F.max("l_suppkey").alias("max_sk"),
    )


def _sql_zorder_cells(bits: int = 8) -> str:
    """Dialect twin of `zorder.grid_expr` + `interleave_expr`: identical
    double-division grid normalization (exact: non-negative, quotient
    < 2^bits, fractional distance ≥ 1/(range+1)) and the same unrolled
    shift/mask interleave."""
    grid = (
        "CAST(floor(CAST(({c} - {lo}) AS DOUBLE) * {n} / ({hi} - {lo} + 1))"
        " AS BIGINT)"
    )
    xg = grid.format(c="l_partkey", lo="xlo", hi="xhi", n=1 << bits)
    yg = grid.format(c="l_suppkey", lo="ylo", hi="yhi", n=1 << bits)
    z = " + ".join(
        f"(((xg >> {b}) & 1) << {2 * b}) + (((yg >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )
    return f"""
WITH b AS (
    SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
           min(l_suppkey) AS ylo, max(l_suppkey) AS yhi
    FROM lineitem
), g AS (
    SELECT l_partkey, l_suppkey, {xg} AS xg, {yg} AS yg
    FROM lineitem CROSS JOIN b
), zz AS (
    SELECT l_partkey, l_suppkey, {z} AS z FROM g
)
SELECT z >> 6 AS z_cell, count(*) AS n_rows,
       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
       min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
FROM zz GROUP BY 1"""


_SQL_ZORDER_CELLS = _sql_zorder_cells()


def q_hilbert_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering diagnostic (`operators/zorder.
    hilbert_expr`) — q_zorder_cells' layout comparison point: the same
    rank-bucketed (l_partkey, l_suppkey) grid rolled up to 1024 curve
    cells with per-cell key bounds, but on the HILBERT order, whose
    cells never jump across the space (Morton's quadrant-seam
    discontinuities are why Delta's OPTIMIZE offers both).  Identical
    shape to the Morton twin: bounds ride a 1-row broadcast-aggregate
    crossJoin; the xy2d recurrence is an unrolled JVM integer
    expression chain, bit-identical to the SQL twin."""
    from .operators import zorder

    li = nyc_views.load_tables(spark, sf_dir)["lineitem"].select(
        "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("__xlo"),
        F.max("l_partkey").alias("__xhi"),
        F.min("l_suppkey").alias("__ylo"),
        F.max("l_suppkey").alias("__yhi"),
    )
    # Collapse to GRID-CELL grain BEFORE the xy2d fold: the fold is an
    # interpreted higher-order expression (~3× Morton's codegen cost,
    # BASELINE round-13 probe), but its input domain is ≤2^16 distinct
    # (xg, yg) cells regardless of corpus size — dedupe-to-lattice (the
    # q_dbscan discipline) pays the fold per CELL, not per row, and the
    # per-cell key bounds commute through the rollup.
    cells = (
        li.crossJoin(F.broadcast(bounds))
        .select(
            zorder.grid_expr(
                "l_partkey", F.col("__xlo"), F.col("__xhi")
            ).alias("xg"),
            zorder.grid_expr(
                "l_suppkey", F.col("__ylo"), F.col("__yhi")
            ).alias("yg"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("xg", "yg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
    )
    h = zorder.hilbert_expr(F.col("xg"), F.col("yg"))
    return (
        cells.withColumn("h", h)
        .groupBy(F.shiftright(F.col("h"), 6).alias("h_cell"))
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("min_pk").alias("min_pk"),
            F.max("max_pk").alias("max_pk"),
            F.min("min_sk").alias("min_sk"),
            F.max("max_sk").alias("max_sk"),
        )
    )


def _sql_hilbert_cells(bits: int = 8) -> str:
    from .operators.zorder import hilbert_sql_exprs

    grid = (
        "CAST(floor(CAST(({c} - {lo}) AS DOUBLE) * {n} / ({hi} - {lo} + 1))"
        " AS BIGINT)"
    )
    xg = grid.format(c="l_partkey", lo="xlo", hi="xhi", n=1 << bits)
    yg = grid.format(c="l_suppkey", lo="ylo", hi="yhi", n=1 << bits)
    # cell-grain twin of the engine's dedupe-to-lattice shape: the
    # rotation CTE chain runs over ≤2^16 cells, not corpus rows
    return f"""
WITH b AS (
    SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
           min(l_suppkey) AS ylo, max(l_suppkey) AS yhi
    FROM lineitem
), g0 AS MATERIALIZED (
    SELECT x, y, CAST(0 AS BIGINT) AS d, n_rows,
           min_pk, max_pk, min_sk, max_sk
    FROM (
        SELECT {xg} AS x, {yg} AS y,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
               min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
        FROM lineitem CROSS JOIN b
        GROUP BY 1, 2
    )
){hilbert_sql_exprs(bits)}
SELECT d >> 6 AS h_cell, CAST(sum(n_rows) AS BIGINT) AS n_rows,
       min(min_pk) AS min_pk, max(max_pk) AS max_pk,
       min(min_sk) AS min_sk, max(max_sk) AS max_sk
FROM h{bits} GROUP BY 1"""


_SQL_HILBERT_CELLS = _sql_hilbert_cells()



def q_pagerank_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-importance PageRank over the trip transition graph
    (`operators/graph.pagerank_int`): edges = (pickup_zone →
    dropoff_zone, trip count) from staged trips, 3 damped iterations on
    the integer lattice so every rank unit is bit-reproducible. The
    per-iteration shape — edges ⋈ ranks on src, per-dst partial sums —
    is the canonical distributed PageRank; here the graph is 40 zones,
    at web scale the same plan shuffles on the edge key."""
    from .operators import graph

    edges = (
        staging.stg_taxi_trips(_trips(spark, sf_dir))
        .groupBy(
            F.col("pickup_zone_id").alias("src"),
            F.col("dropoff_zone_id").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out = graph.pagerank_int(edges, n_iter=3)
    return out.select(F.col("node").alias("zone_id"), "rank")


def _sql_pagerank_zones(n_iter: int = 3, scale: int = 10**9) -> str:
    """Unrolled integer-PageRank twin of `graph.pagerank_int`: same
    floor-division lattice arithmetic per iteration (teleport, damped
    contributions, uniform dangling redistribution)."""
    parts = [f"""e AS (
    SELECT pickup_zone_id AS src, dropoff_zone_id AS dst,
           CAST(count(*) AS BIGINT) AS w
    FROM stg_trips GROUP BY 1, 2
), nd AS (
    SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS (
    SELECT count(*) AS n FROM nd
), ow AS (
    SELECT src, CAST(sum(w) AS BIGINT) AS W FROM e GROUP BY 1
), r0 AS (
    SELECT node, CAST({scale} AS BIGINT) // nn.n AS r
    FROM nd CROSS JOIN nn
)"""]
    for t in range(1, n_iter + 1):
        parts.append(f""",
ct{t} AS (
    SELECT e.dst AS node, CAST(sum(r.r * e.w // ow.W) AS BIGINT) AS c
    FROM e JOIN ow USING (src) JOIN r{t - 1} r ON r.node = e.src
    GROUP BY 1
), dg{t} AS (
    SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dang
    FROM r{t - 1} r LEFT JOIN ow ON ow.src = r.node
    WHERE ow.src IS NULL
), r{t} AS (
    SELECT nd.node,
           CAST(15 AS BIGINT) * CAST({scale} AS BIGINT)
               // (CAST(100 AS BIGINT) * nn.n)
           + CAST(85 AS BIGINT)
               * (coalesce(c.c, 0) + (d.dang // nn.n)) // 100 AS r
    FROM nd CROSS JOIN nn CROSS JOIN dg{t} d
    LEFT JOIN ct{t} c ON c.node = nd.node
)""")
    return "".join(parts)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone triangle participation over the undirected zone
    transition graph (`operators/graph.triangle_counts`) — the local
    clustering-density metric. Two equi-joins produce each triangle
    once in sorted orientation; all-integer, hash-gated."""
    from .operators import graph

    edges = staging.stg_taxi_trips(_trips(spark, sf_dir)).select(
        F.col("pickup_zone_id").alias("src"),
        F.col("dropoff_zone_id").alias("dst"),
    )
    out = graph.triangle_counts(edges)
    return out.select(F.col("node").cast("long").alias("zone_id"), "n_triangles")


_SQL_TRIANGLE_COUNT = _with(
    SQL_TRIPS,
    SQL_STG_TRIPS,
    """e AS (
    SELECT DISTINCT least(pickup_zone_id, dropoff_zone_id) AS a,
                    greatest(pickup_zone_id, dropoff_zone_id) AS b
    FROM stg_trips
    WHERE pickup_zone_id <> dropoff_zone_id
),
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)""",
    select="""SELECT CAST(node AS BIGINT) AS zone_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
GROUP BY 1""",
)


_SQL_PAGERANK_ZONES = _with(
    SQL_TRIPS,
    SQL_STG_TRIPS,
    _sql_pagerank_zones(),
    select='SELECT node AS zone_id, r AS "rank" FROM r3',
)


def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances over the directed zone transition graph from
    the smallest zone id (`operators/graph.bfs_hops`) — the reachability
    /radius primitive. Layered frontier expansion: first reach = minimum
    hops, one frontier⋈edges equi-join + settled anti-join per round,
    rounds = diameter. The oracle is a recursive CTE whose UNION dedup
    bounds the walk at (node × depth) rows — the relational statement of
    the same fixpoint."""
    from .operators import graph

    edges = staging.stg_taxi_trips(_trips(spark, sf_dir)).select(
        F.col("pickup_zone_id").alias("src"),
        F.col("dropoff_zone_id").alias("dst"),
    )
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    )
    source = nodes.agg(F.min("node").alias("node"))
    out = graph.bfs_hops(edges, source, max_iter=16)
    return out.select(
        F.col("node").cast("long").alias("zone_id"),
        F.col("hops").cast("int").alias("hops"),
    )


_SQL_SHORTEST_PATH = _with(
    SQL_TRIPS,
    SQL_STG_TRIPS,
    """e AS (
    SELECT DISTINCT pickup_zone_id AS src, dropoff_zone_id AS dst
    FROM stg_trips
),
nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
s0 AS (SELECT min(node) AS node FROM nd),
walk AS (
    WITH RECURSIVE w(node, d) AS (
        SELECT node, 0 FROM s0
        UNION
        SELECT e.dst, w.d + 1
        FROM w JOIN e ON e.src = w.node
        WHERE w.d < 16
    )
    SELECT node, d FROM w
)""",
    select="""SELECT CAST(node AS BIGINT) AS zone_id,
       CAST(min(d) AS INTEGER) AS hops
FROM walk GROUP BY 1""",
)


def q_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (`operators/skew.py::salted_agg`),
    driver-gated: the hot-key mitigation must be bit-identical to the plain
    GROUP BY the oracle runs. Quantity is pre-projected to exact 1e-2-unit
    integers, so both phases sum longs and the result is independent of the
    salt assignment and of summation order — which is precisely why salting
    preserves exactness for algebraic aggregates."""
    from .operators import skew

    li = nyc_views.load_tables(spark, sf_dir)["lineitem"].select(
        "l_returnflag",
        "l_linestatus",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias(
            "qty_units"
        ),
        "l_partkey",
    )
    out = skew.salted_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        counts=["l_partkey"],
        sums=["qty_units"],
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "row_count",
        "l_partkey_count",
        (F.col("qty_units_sum") / 100.0).alias("sum_qty"),
    )


_SQL_SKEW_AGG = """
SELECT l_returnflag, l_linestatus, count(*) AS row_count,
       count(l_partkey) AS l_partkey_count,
       CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
           / 100.0 AS sum_qty
FROM lineitem GROUP BY 1, 2"""


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicate-the-dim join (`skew.py::salted_broadcast_join`),
    driver-gated against the plain LEFT JOIN: the fact side draws a salt,
    the dim replicates across all salts, and a hot part key spreads over
    n_salts tasks — with results provably identical to the unsalted join
    (every fact row still meets exactly one dim replica)."""
    from .operators import skew

    t = nyc_views.load_tables(spark, sf_dir)
    fact = t["lineitem"].select(
        F.col("l_partkey").alias("p_partkey"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias(
            "price_units"
        ),
    )
    out = skew.salted_broadcast_join(
        fact, t["part"].select("p_partkey", "p_brand"), "p_partkey"
    )
    return out.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum("price_units") / 100.0).alias("total_price"),
    )


_SQL_SKEW_JOIN = """
SELECT p_brand, count(*) AS n_items,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           / 100.0 AS total_price
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY p_brand"""


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users who viewed,
    then clicked strictly after their first view, then purchased strictly
    after their first qualifying click. Each stage is a per-user min-ts
    aggregate joined to the previous stage — shuffles stay on user_id all
    the way down (co-partitioned, AQE-coalesced), no window over the full
    stream. The classic product-analytics sequence query a warehouse must
    serve."""
    ev = nyc_views.load_tables(spark, sf_dir)["events"]
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    stage = lambda name, df: df.agg(  # noqa: E731
        F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n_users")
    ).select("stage", "n_users")
    return (
        stage("1_view", v)
        .unionByName(stage("2_view_click", c))
        .unionByName(stage("3_view_click_purchase", p))
    )


_SQL_CONVERSION_FUNNEL = """
WITH v AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT e.user_id, min(e.ts) AS t1
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t0
    GROUP BY 1
),
p AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t1
    GROUP BY 1
)
SELECT '1_view' AS stage, count(*) AS n_users FROM v
UNION ALL
SELECT '2_view_click', count(*) FROM c
UNION ALL
SELECT '3_view_click_purchase', count(*) FROM p"""


_FUNNEL_WINDOWS_H = (1, 24, 168)  # hours: 1h, 1d, 7d


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUNDED funnel (the ClickHouse ``windowFunnel`` shape) —
    q_conversion_funnel's ordered ladder with a completion deadline: a
    user reaches level 2 iff their first qualifying click lands within W
    of their first view, level 3 iff the subsequent first purchase does
    too (all steps inside ONE window anchored at the first view — the
    documented greedy-from-first-view semantic; no re-anchoring).  One
    row per (window, level) with the user count, for W ∈ {1h, 1d, 7d}.

    Shape: the three per-user min-ts aggregates are computed ONCE
    (shuffles stay on user_id); each window then re-reads the tiny
    (user, t0, t1, t2) frame with pure timestamp comparisons — the
    window ladder costs nothing extra at corpus scale."""
    ev = nyc_views.load_tables(spark, sf_dir)["events"]
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    base = (
        v.join(c, "user_id", "left").join(p, "user_id", "left").persist()
    )
    out = None
    for w in _FUNNEL_WINDOWS_H:
        lvl2 = F.col("t1") <= F.timestamp_add("HOUR", F.lit(w), F.col("t0"))
        lvl3 = lvl2 & (
            F.col("t2") <= F.timestamp_add("HOUR", F.lit(w), F.col("t0"))
        )
        # coalesce: SUM over an empty base (a stream with no views) is
        # NULL in both engines — the level counts must read 0
        st = base.agg(
            F.lit(w).cast("int").alias("window_hours"),
            F.count(F.lit(1)).cast("long").alias("n_level1"),
            F.coalesce(F.sum(F.when(lvl2, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("n_level2"),
            F.coalesce(F.sum(F.when(lvl3, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("n_level3"),
        )
        out = st if out is None else out.unionByName(st)
    return out


_SQL_WINDOW_FUNNEL = (
    """
WITH v AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT e.user_id, min(e.ts) AS t1
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t0
    GROUP BY 1
),
p AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t1
    GROUP BY 1
),
base AS (
    SELECT v.user_id, v.t0, c.t1, p.t2
    FROM v LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
)
"""
    + "\nUNION ALL\n".join(
        f"""SELECT CAST({w} AS INTEGER) AS window_hours,
       CAST(count(*) AS BIGINT) AS n_level1,
       CAST(coalesce(sum(CASE WHEN t1 <= t0 + INTERVAL {w} HOUR
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_level2,
       CAST(coalesce(sum(CASE WHEN t1 <= t0 + INTERVAL {w} HOUR
                 AND t2 <= t0 + INTERVAL {w} HOUR
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_level3
FROM base"""
        for w in _FUNNEL_WINDOWS_H
    )
)


def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day, one
    row per (cohort, day-offset) with the count still active — the other
    canonical user-behavior rollup. Two aggregates on user_id plus one on
    the (cohort, offset) pair; nothing holds per-user state beyond the
    first-day scalar."""
    ev = nyc_views.load_tables(spark, sf_dir)["events"]
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_date"))
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff(F.col("d"), F.col("cohort_date")).cast("int").alias(
                "day_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


_SQL_RETENTION_COHORT = """
WITH first AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
    FROM events GROUP BY 1
),
active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
SELECT cohort_date,
       CAST(datediff('day', cohort_date, d) AS INTEGER) AS day_offset,
       count(*) AS n_active
FROM active JOIN first ON active.user_id = first.user_id
GROUP BY 1, 2"""


def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 source-freshness SLAs as a gated relational report
    (`quality.freshness_report`): max event time per feed, age in whole
    hours at a pinned `as_of`, and the reference's warn/error verdicts
    (trips 24/48h, weather 2/4h — `sources.yml:13-15,37-39`). The pinned
    instant sits days past the testdata horizon, so both feeds read `fail`
    deterministically at every sf."""
    from .operators import quality

    return quality.freshness_report(
        [
            ("trips", _trips(spark, sf_dir), "pickup_datetime", 24, 48),
            ("weather", _weather(spark, sf_dir), "load_ts", 2, 4),
        ],
        as_of="2024-02-05 00:00:00",
    )


_SQL_FRESHNESS_CTE = """
fresh AS (
    SELECT 'trips' AS source, max(pickup_datetime) AS latest_ts,
           CAST(floor((epoch(TIMESTAMP '2024-02-05 00:00:00')
                       - floor(epoch(max(pickup_datetime)))) / 3600) AS BIGINT)
               AS age_hours,
           24 AS warn_h, 48 AS err_h
    FROM trips
    UNION ALL
    SELECT 'weather', max(load_ts),
           CAST(floor((epoch(TIMESTAMP '2024-02-05 00:00:00')
                       - floor(epoch(max(load_ts)))) / 3600) AS BIGINT),
           2, 4
    FROM weather
)
"""

_SQL_FRESHNESS = """
SELECT source, latest_ts, age_hours,
       CASE WHEN latest_ts IS NULL THEN 'fail'
            WHEN age_hours > err_h THEN 'fail'
            WHEN age_hours > warn_h THEN 'warn'
            ELSE 'pass' END AS status
FROM fresh"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 update-capable MERGE (`operators/merge.py::merge_upsert`):
    a corrections batch (every even order, re-priced, version 2) lands on a
    target whose rows carry version 1 or 3 — matched rows update only where
    the source is newer, stale corrections are skipped, unmatched
    corrections insert. The resulting state is the gate, so update, skip,
    insert, and keep paths are all hash-checked."""
    from .operators.merge import merge_upsert

    o = nyc_views.load_tables(spark, sf_dir)["orders"]
    target = o.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 5 < 3, 1).otherwise(3).alias("version"),
    )
    source = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    return merge_upsert(target, source, ["o_orderkey"], "version")


_SQL_MERGE_UPSERT = """
WITH t AS (
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 5 < 3 THEN 1 ELSE 3 END AS version, 0 AS src
    FROM orders WHERE o_orderkey % 3 <> 0
),
s AS (
    SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice, 2 AS version,
           1 AS src
    FROM orders WHERE o_orderkey % 2 = 0
),
u AS (SELECT * FROM t UNION ALL SELECT * FROM s),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY version DESC, src DESC) AS rn
    FROM u
)
SELECT o_orderkey, o_totalprice, version FROM r WHERE rn = 1"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental mart maintenance (`operators/incremental.py`): the daily
    trips mart is built as base-history partials plus a late-arriving delta
    batch (the split at 2024-01-20 stands in for a backfill) folded in at
    the partial-aggregate level — and must equal the full recompute the
    oracle runs. This is the reference's planned-but-unbuilt 'incremental
    models' capability (`README.md:375`) in its scale-safe form: only the
    delta's days rejoin the shuffle, money totals fold as exact integers."""
    from .operators import incremental

    stg = staging.stg_taxi_trips(_trips(spark, sf_dir))
    cutoff = F.lit("2024-01-20").cast("timestamp")
    base = incremental.partial_daily_trips(stg.where(F.col("pickup_datetime") < cutoff))
    delta = incremental.partial_daily_trips(
        stg.where(F.col("pickup_datetime") >= cutoff)
    )
    return incremental.finalize_daily(incremental.merge_partials(base, delta))


_SQL_INCREMENTAL_AGG = """
SELECT CAST(pickup_datetime AS DATE) AS trip_date,
       count(*) AS trip_count,
       CAST(sum(CAST(floor(total_amount * 100 + 0.5) AS BIGINT)) AS BIGINT)
           / 100.0 AS total_fare,
       CAST(sum(CAST(floor(total_amount * 100 + 0.5) AS BIGINT)) AS BIGINT)
           / count(*) / 100.0 AS avg_fare,
       min(CAST(floor(total_amount * 100 + 0.5) AS BIGINT)) / 100.0 AS min_fare,
       max(CAST(floor(total_amount * 100 + 0.5) AS BIGINT)) / 100.0 AS max_fare
FROM stg_trips GROUP BY 1"""


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: Structured Streaming parity for the A1 hourly rollup, as a
    driver-gated query (previously test-only).

    The weather feed is replayed through a file-source stream (the streaming
    analogue of the reference's hourly scheduled pull,
    `dags/weather_realtime_etl.py:30`), aggregated by a watermarked 1h
    tumbling window with `dropDuplicatesWithinWatermark` idempotence, drained
    with Trigger.AvailableNow into a memory sink, and the resulting table is
    returned. Oracle = the exact batch `int_weather_hourly` SQL: stream and
    batch must agree row-for-row (complete output mode emits every window, so
    the watermark only bounds state, never drops rows here)."""
    from .streaming import weather_stream
    from .util import stream_feed

    # memoized SHARED weather feed: hourly/hll/histogram/psi replay
    # identical content, so all four stage it once per (session, sf_dir)
    stream = stream_feed(_weather(spark, sf_dir), "weather_feed", sf_dir, n_files=2)
    agg = weather_stream.hourly_weather_stream(stream)
    return weather_stream.drain_available_now(agg, "q_stream_hourly_sink").select(
        "observation_hour",
        "city",
        _r4("avg_temperature_fahrenheit"),
        "min_temperature_fahrenheit",
        "max_temperature_fahrenheit",
        _r4("avg_humidity_percent"),
        "weather_description",
        "observation_count",
        "latest_observation_at",
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: watermark-bounded streaming dedup
    (`streaming/dedup_stream.py::dedup_within_watermark`) as a driver-gated
    query — the streaming face of the MERGE idempotence S8, previously
    test-only.

    The weather feed is replayed through a file-source stream with ~20%
    injected exact re-deliveries (every 5th observation written twice —
    the at-least-once bus scenario); `dropDuplicatesWithinWatermark` on
    obs_id keeps exactly one copy. Gate determinism: the delay is pinned
    wider than the feed's event-time span so no re-delivery can outrun the
    watermark regardless of file replay order (the state-BOUNDING behavior
    under short delays is exercised in the streaming tests). Oracle: the
    batch weather view itself — exact duplicates collapse back to the
    unique originals."""
    from .streaming import dedup_stream, weather_stream
    from .util import stream_feed

    w = _weather(spark, sf_dir)
    # originals + every-5th duplicate staged once per (session, sf_dir)
    stream = stream_feed(
        w.unionByName(w.where(F.col("obs_id") % 5 == 0)),
        "dedup_feed",
        sf_dir,
        n_files=2,
    )
    ded = dedup_stream.dedup_within_watermark(
        stream, ["obs_id"], "observed_at", delay="3650 days"
    )
    return weather_stream.drain_available_now(
        ded, "q_stream_dedup_sink", "append"
    ).select(
        "obs_id", "observed_at", "city", "temp_f", "weather_desc",
        "humidity_pct",
    )


def q_demand_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of daily demand between zones — the
    demand-covariance matrix a forecaster checks before pooling series.
    Self-join on date (zone_a < zone_b), then the five power sums; every
    sum is an exact integer (any partial-agg order), so the correlation is
    one per-row IEEE expression — no engine's corr() builtin, whose
    internal accumulation order would NOT be reproducible."""
    z = features.zone_demand(staging.stg_taxi_trips(_trips(spark, sf_dir))).select(
        "pickup_zone_id", "trip_date", "trip_count"
    ).persist()  # both self-join sides
    a = z.select(
        F.col("pickup_zone_id").alias("zone_a"),
        "trip_date",
        F.col("trip_count").alias("x"),
    )
    b = z.select(
        F.col("pickup_zone_id").alias("zone_b"),
        "trip_date",
        F.col("trip_count").alias("y"),
    )
    sums = (
        a.join(b, "trip_date")
        .where(F.col("zone_a") < F.col("zone_b"))
        .groupBy("zone_a", "zone_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )  # constant series → NULL, not a div-by-zero whose NaN/inf semantics
    # differ across engines
    return sums.select(
        "zone_a",
        "zone_b",
        F.col("n").cast("long").alias("n_days"),
        _rnd(corr, 6).alias("corr"),
    )


_SQL_DEMAND_CORR_SELECT = """
, zd AS (SELECT pickup_zone_id, trip_date, trip_count FROM zone_demand)
, sums AS (
    SELECT a.pickup_zone_id AS zone_a, b.pickup_zone_id AS zone_b,
           count(*) AS n,
           sum(a.trip_count) AS sx, sum(b.trip_count) AS sy,
           sum(a.trip_count * b.trip_count) AS sxy,
           sum(a.trip_count * a.trip_count) AS sxx,
           sum(b.trip_count * b.trip_count) AS syy
    FROM zd a JOIN zd b
      ON a.trip_date = b.trip_date AND a.pickup_zone_id < b.pickup_zone_id
    GROUP BY 1, 2
)
SELECT zone_a, zone_b, CAST(n AS BIGINT) AS n_days,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round(1e-9 + (n * sxy - sx * sy)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
       END AS corr
FROM sums"""


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: corpus-wide counts of every 3-step
    event-type sequence along each user's timeline (lead/lead window over
    (ts, event_id) — the unique tiebreak makes the sequence, and therefore
    the whole result, deterministic).  One shuffle on user, one on path;
    per-path distinct-user reach comes along in the same aggregation."""
    t = nyc_views.load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = t["events"].select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        p.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path"), "user_id"
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paths"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )


_SQL_EVENT_PATHS = """
WITH p AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS path,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM p
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1"""


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stretch, now driver-gated: the CUSTOM stateful streaming
    operator (`streaming/sessionize.py::sessionize_stream`,
    `applyInPandasWithState`) — inactivity-gap sessionization whose
    session boundaries are data-dependent, inexpressible by any built-in
    window.  The event feed is staged to a file stream and drained with
    availableNow in a single micro-batch (4 files, under the feed's
    8-file trigger cap),
    so every CLOSED session is emitted deterministically; the open tail per
    user stays in state by design and the oracle drops each user's last
    session to mirror that.  Gate value: the Arrow state machine itself —
    batch SQL sessionization must reproduce it row for row."""
    from .streaming import sessionize, weather_stream
    from .util import stream_feed

    t = nyc_views.load_tables(spark, sf_dir)
    ev = t["events"].select("user_id", "ts", "value")
    stream = stream_feed(ev, "sessions_feed", sf_dir, n_files=4)
    sess = sessionize.sessionize_stream(stream, gap_minutes=30)
    return weather_stream.drain_available_now(
        sess, "q_stream_sessions_sink", "update"
    ).select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        _rnd(F.col("total_value"), 4).alias("total_value"),
    )


_SQL_STREAM_SESSIONS = """
WITH ev AS (SELECT user_id, ts, value FROM events),
l AS (
    SELECT user_id, ts, value,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
    FROM ev
),
g AS (
    SELECT *, CASE WHEN pts IS NULL OR ts - pts > INTERVAL 30 MINUTE
                   THEN 1 ELSE 0 END AS brk
    FROM l
),
s AS (
    SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
    FROM g
),
agg AS (
    SELECT user_id, sid,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS INT) AS n_events,
           sum(value) AS total_value
    FROM s GROUP BY 1, 2
),
mx AS (SELECT user_id, max(sid) AS open_tail FROM agg GROUP BY 1)
SELECT a.user_id, a.session_start, a.session_end, a.n_events,
       round(1e-9 + a.total_value, 4) AS total_value
FROM agg a JOIN mx USING (user_id)
WHERE a.sid < mx.open_tail"""


def q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × as-of: STREAM-STATIC temporal enrichment — each streaming
    error event gains the forward-filled New York temperature of ITS
    hour from the batch-maintained hourly spine (`resample_ffill`, the
    q_gapfill operator, as the static dimension).  This is the
    production enrichment split: the as-of fill runs batch-side where
    it's one window, the stream pays only a stateless broadcast
    equi-join on the hour bucket — no stream state at all (the stateful
    row-exact range case is q_stream_join's job).  Hour-grain as-of
    semantics are the documented contract; the oracle replays the same
    spine join batch-side."""
    from .operators.timeseries import resample_ffill
    from .streaming import weather_stream
    from .util import stream_feed

    t = nyc_views.load_tables(spark, sf_dir)
    spine = (
        resample_ffill(
            nyc_views.weather_from_events(t["events"]),
            "observed_at",
            ["city"],
            ["temp_f"],
        )
        .where(F.col("city") == "New York")
        .select("hour_ts", "temp_f_filled")
    )
    errs = t["events"].where(F.col("event_type") == "error").select(
        "event_id", "ts"
    )
    stream = stream_feed(errs, "asof_feed_err", sf_dir, n_files=4).withColumn(
        "hour_ts", F.date_trunc("hour", "ts")
    )
    joined = stream.join(F.broadcast(spine), "hour_ts", "left").select(
        "event_id",
        "ts",
        _rnd(F.col("temp_f_filled"), 4).alias("temp_f_filled"),
    )
    return weather_stream.drain_available_now(joined, "q_stream_asof_sink", "append")


_SQL_STREAM_ASOF = """
SELECT e.event_id, e.ts,
       round(1e-9 + s.temp_f_filled, 4) AS temp_f_filled
FROM (
    SELECT event_id, ts FROM events WHERE event_type = 'error'
) e
LEFT JOIN (
    SELECT city, hour_ts,
           last_value(temp_f IGNORE NULLS) OVER (
               PARTITION BY city ORDER BY hour_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS temp_f_filled
    FROM (
        SELECT g.city, g.hour_ts, h.temp_f
        FROM (
            SELECT s.city, sp.hour_ts
            FROM (SELECT DISTINCT city FROM weather) s
            CROSS JOIN (
                SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                       AS hour_ts
                FROM (SELECT date_trunc('hour', min(observed_at)) AS lo,
                             date_trunc('hour', max(observed_at)) AS hi
                      FROM weather)
            ) sp
        ) g
        LEFT JOIN (
            SELECT city, date_trunc('hour', observed_at) AS hour_ts,
                   avg(temp_f) AS temp_f
            FROM weather GROUP BY 1, 2
        ) h ON g.city = h.city AND g.hour_ts = h.hour_ts
    )
) s ON s.city = 'New York' AND s.hour_ts = date_trunc('hour', e.ts)"""


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stretch: a true STREAM-STREAM temporal join, driver-gated —
    error events joined to the weather observations of their preceding
    30 minutes, both sides streaming with watermarks and a time-range join
    condition (the state-cleanup shape; inner-join matches emit as both
    sides arrive, so the availableNow drain yields exactly the batch
    join).  This is the two-feed correlation pattern (clickstream ×
    telemetry) no stream-static join covers."""
    from .streaming import weather_stream
    from .util import stream_feed

    t = nyc_views.load_tables(spark, sf_dir)
    wx = nyc_views.weather_from_events(t["events"]).select("obs_id", "observed_at")
    errs = t["events"].where(F.col("event_type") == "error").select(
        "event_id", "ts"
    )
    sa = (
        stream_feed(errs, "join_feed_err", sf_dir, n_files=4)
        .withWatermark("ts", "2 hours")
        .withColumn("bucket", F.date_trunc("hour", "ts"))
    )
    # Spark requires an EQUALITY predicate in stream-stream joins; the
    # standard shape is a coarse time-bucket equi-key with the range
    # residual. The weather side explodes into its own hour and the next
    # (an obs within (ts-30min, ts] lies in ts's hour or the one before,
    # so bucketing obs forward guarantees the matching pair shares
    # hour(ts) exactly once — no duplicates).
    sb = (
        stream_feed(wx, "join_feed_wx", sf_dir, n_files=2)
        .withWatermark("observed_at", "2 hours")
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.date_trunc("hour", "observed_at"),
                    F.date_trunc("hour", "observed_at")
                    + F.expr("interval 1 hour"),
                )
            ),
        )
    )
    j = sa.join(
        sb,
        (sa["bucket"] == sb["bucket"])
        & F.expr("observed_at > ts - interval 30 minutes AND observed_at <= ts"),
        "inner",
    )
    return weather_stream.drain_available_now(j, "q_stream_join_sink", "append").select(
        "event_id", "obs_id", "ts", "observed_at"
    )


_SQL_STREAM_JOIN_SELECT = """
, errs AS (
    SELECT event_id, ts FROM events WHERE event_type = 'error'
)
SELECT e.event_id, w.obs_id, e.ts, w.observed_at
FROM errs e JOIN weather w
  ON w.observed_at > e.ts - INTERVAL 30 MINUTE
 AND w.observed_at <= e.ts"""


# --- SCD2 resulting-state queries (C1/C2) ----------------------------------
# Two deterministic source batches are derived from the testdata, the
# snapshot operator is applied twice (T1 then T2), and the FINAL snapshot
# state is returned; the oracle reconstructs the same state set-theoretically
# (closed / kept / hard-deleted / new rows). All check/compare columns are
# ints or truncated timestamps — no float comparisons in change detection.

_T1 = "2026-01-01 00:00:00"
_T2 = "2026-01-02 00:00:00"


def q_scd2_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: dbt check-strategy snapshot (`snapshots/snp_daily_metrics.sql:13-58`)
    — batch2 changes ~1/3 of days, adds the days batch1 withheld, and batch1's
    synthetic 1900-01-01 key stays open (check strategy keeps missing keys)."""
    from datetime import datetime

    from .operators import scd

    ev = nyc_views.load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(F.to_date("ts").alias("trip_date")).agg(
        F.count(F.lit(1)).alias("trip_count"),
        F.sum(F.floor("value").cast("long")).alias("total_units"),
    )
    b1 = daily.where(F.dayofmonth("trip_date") % 7 != 0).select(
        "trip_date",
        "trip_count",
        F.when(
            F.dayofmonth("trip_date") % 3 == 0, F.col("total_units") + 100
        )
        .otherwise(F.col("total_units"))
        .alias("total_units"),
    )
    extra = spark.sql(
        "SELECT DATE'1900-01-01' AS trip_date, CAST(1 AS BIGINT) AS trip_count,"
        " CAST(1 AS BIGINT) AS total_units"
    )
    b1 = b1.unionByName(extra)
    key, checks = ["trip_date"], ["trip_count", "total_units"]
    s1 = scd.snapshot_check(None, b1, key, checks, datetime(2026, 1, 1))
    return scd.snapshot_check(s1, daily, key, checks, datetime(2026, 1, 2))


_SQL_SCD2_CHECK = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS trip_date, count(*) AS trip_count,
           -- DuckDB sum(BIGINT) widens to HUGEINT; Spark emits BIGINT, and the
           -- driver's value hash is integer-width sensitive -> cast back down.
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total_units
    FROM events GROUP BY 1
),
b1 AS (
    SELECT trip_date, trip_count,
           CASE WHEN day(trip_date) % 3 = 0 THEN total_units + 100
                ELSE total_units END AS total_units
    FROM daily WHERE day(trip_date) % 7 <> 0
    UNION ALL
    SELECT DATE '1900-01-01', CAST(1 AS BIGINT), CAST(1 AS BIGINT)
),
b2 AS (SELECT * FROM daily),
stamped AS (
    -- closed: b1 keys whose check cols changed in b2
    SELECT a.trip_date, a.trip_count, a.total_units,
           TIMESTAMP '{_T1}' AS dbt_updated_at,
           TIMESTAMP '{_T1}' AS dbt_valid_from,
           TIMESTAMP '{_T2}' AS dbt_valid_to
    FROM b1 a JOIN b2 b ON a.trip_date = b.trip_date
    WHERE a.trip_count <> b.trip_count OR a.total_units <> b.total_units
    UNION ALL
    -- kept open: unchanged keys, and b1 keys missing from b2 (check strategy)
    SELECT a.trip_date, a.trip_count, a.total_units,
           TIMESTAMP '{_T1}', TIMESTAMP '{_T1}', NULL
    FROM b1 a LEFT JOIN b2 b ON a.trip_date = b.trip_date
    WHERE b.trip_date IS NULL
       OR (a.trip_count = b.trip_count AND a.total_units = b.total_units)
    UNION ALL
    -- new open versions: changed keys and brand-new keys, from b2
    SELECT b.trip_date, b.trip_count, b.total_units,
           TIMESTAMP '{_T2}', TIMESTAMP '{_T2}', NULL
    FROM b2 b LEFT JOIN b1 a ON a.trip_date = b.trip_date
    WHERE a.trip_date IS NULL
       OR (a.trip_count <> b.trip_count OR a.total_units <> b.total_units)
)
SELECT trip_date, trip_count, total_units,
       md5(concat_ws('-', coalesce(CAST(trip_date AS VARCHAR), ''),
                          coalesce(CAST(dbt_updated_at AS VARCHAR), ''))) AS dbt_scd_id,
       dbt_updated_at, dbt_valid_from, dbt_valid_to
FROM stamped"""


def q_scd2_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: dbt timestamp-strategy snapshot with hard-delete invalidation
    (`snapshots/snp_weather_observations.sql:13-44`). Key (city, observed_at)
    deduped at second grain; batch2 advances load_ts on ~1/4 of shared keys;
    keys only in batch1 are hard-deleted (closed at T2)."""
    from datetime import datetime

    from .operators import scd

    w = _weather(spark, sf_dir)
    base = w.groupBy(
        F.col("city"), F.date_trunc("second", "observed_at").alias("observed_at")
    ).agg(
        F.date_trunc("second", F.max("load_ts")).alias("load_ts"),
        F.max("humidity_pct").alias("humidity_pct"),
        F.min("obs_id").alias("obs_id"),
    )
    b1 = base.where(F.col("obs_id") % 2 == 0)
    b2 = base.where(F.col("obs_id") % 3 == 0).select(
        "city",
        "observed_at",
        F.when(
            F.col("obs_id") % 4 == 0, F.timestamp_add("MINUTE", F.lit(10), "load_ts")
        )
        .otherwise(F.col("load_ts"))
        .alias("load_ts"),
        F.when(F.col("obs_id") % 4 == 0, F.col("humidity_pct") + 1)
        .otherwise(F.col("humidity_pct"))
        .alias("humidity_pct"),
        "obs_id",
    )
    key = ["city", "observed_at"]
    s1 = scd.snapshot_timestamp(None, b1, key, "load_ts")
    return scd.snapshot_timestamp(
        s1,
        b2,
        key,
        "load_ts",
        as_of=datetime(2026, 1, 2),
        invalidate_hard_deletes=True,
    )


_SQL_SCD2_TIMESTAMP = f"""
WITH {SQL_WEATHER.strip()},
base AS (
    SELECT city, date_trunc('second', observed_at) AS observed_at,
           date_trunc('second', max(load_ts)) AS load_ts,
           max(humidity_pct) AS humidity_pct,
           min(obs_id) AS obs_id
    FROM weather GROUP BY 1, 2
),
b1 AS (SELECT * FROM base WHERE obs_id % 2 = 0),
b2 AS (
    SELECT city, observed_at,
           CASE WHEN obs_id % 4 = 0 THEN load_ts + INTERVAL 10 MINUTE
                ELSE load_ts END AS load_ts,
           CASE WHEN obs_id % 4 = 0 THEN humidity_pct + 1
                ELSE humidity_pct END AS humidity_pct,
           obs_id
    FROM base WHERE obs_id % 3 = 0
),
stamped AS (
    -- closed: shared keys where b2.load_ts is strictly newer
    SELECT a.city, a.observed_at, a.load_ts, a.humidity_pct, a.obs_id,
           a.load_ts AS dbt_updated_at, a.load_ts AS dbt_valid_from,
           b.load_ts AS dbt_valid_to
    FROM b1 a JOIN b2 b ON a.city = b.city AND a.observed_at = b.observed_at
    WHERE b.load_ts > a.load_ts
    UNION ALL
    -- kept open: shared keys with no newer version
    SELECT a.city, a.observed_at, a.load_ts, a.humidity_pct, a.obs_id,
           a.load_ts, a.load_ts, NULL
    FROM b1 a JOIN b2 b ON a.city = b.city AND a.observed_at = b.observed_at
    WHERE NOT (b.load_ts > a.load_ts)
    UNION ALL
    -- hard deletes: b1-only keys closed at T2
    SELECT a.city, a.observed_at, a.load_ts, a.humidity_pct, a.obs_id,
           a.load_ts, a.load_ts, TIMESTAMP '{_T2}'
    FROM b1 a LEFT JOIN b2 b ON a.city = b.city AND a.observed_at = b.observed_at
    WHERE b.city IS NULL
    UNION ALL
    -- inserts: new keys and newer versions, stamped from b2
    SELECT b.city, b.observed_at, b.load_ts, b.humidity_pct, b.obs_id,
           b.load_ts, b.load_ts, NULL
    FROM b2 b LEFT JOIN b1 a ON a.city = b.city AND a.observed_at = b.observed_at
    WHERE a.city IS NULL OR b.load_ts > a.load_ts
)
SELECT city, observed_at, load_ts, humidity_pct, obs_id,
       md5(concat_ws('-', coalesce(CAST(city AS VARCHAR), ''),
                          coalesce(CAST(observed_at AS VARCHAR), ''),
                          coalesce(CAST(load_ts AS VARCHAR), ''))) AS dbt_scd_id,
       dbt_updated_at, dbt_valid_from, dbt_valid_to
FROM stamped"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) over the TPC-H-shaped tables: the
    canonical wide-aggregate scan — 8 aggregates, 2 group keys, one pushed
    date predicate, no join.  All money/discount/tax inputs sit on decimal
    lattices, so every SUM folds exact integer units (1e-2 for price, 1e-4
    for disc_price, 1e-6 for charge) and divides once at the end —
    associative under any partial-agg order (the q_star_join money-SUM
    rule).  Averages re-derive from the exact sums.  One shuffle of ≤
    |returnflag×linestatus| rows; Catalyst pushes the filter and prunes to
    the 7 needed columns (verified in the plan audit)."""
    li = nyc_views.load_tables(spark, sf_dir)["lineitem"]
    qty_u = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    price_u = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc_u = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    disc_price_u = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    charge_u = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    agg = (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_u).alias("__sq"),
            F.sum(price_u).alias("__sp"),
            F.sum(disc_price_u).alias("__sdp"),
            F.sum(charge_u).alias("__sc"),
            F.sum(disc_u).alias("__sd"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )
    n = F.col("count_order")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("__sq") / 100.0).alias("sum_qty"),
        (F.col("__sp") / 100.0).alias("sum_base_price"),
        (F.col("__sdp") / 10000.0).alias("sum_disc_price"),
        (F.col("__sc") / 1000000.0).alias("sum_charge"),
        _rnd(F.col("__sq") / 100.0 / n, 6).alias("avg_qty"),
        _rnd(F.col("__sp") / 100.0 / n, 6).alias("avg_price"),
        _rnd(F.col("__sd") / 100.0 / n, 6).alias("avg_disc"),
        "count_order",
    )


_SQL_TPCH_Q1 = """
WITH a AS (
    SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
        CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sp,
        CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                      AS BIGINT)) AS BIGINT) AS sdp,
        CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                            * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sc,
        CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sd,
        CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       sq / 100.0 AS sum_qty,
       sp / 100.0 AS sum_base_price,
       sdp / 10000.0 AS sum_disc_price,
       sc / 1000000.0 AS sum_charge,
       round(1e-9 + sq / 100.0 / count_order, 6) AS avg_qty,
       round(1e-9 + sp / 100.0 / count_order, 6) AS avg_price,
       round(1e-9 + sd / 100.0 / count_order, 6) AS avg_disc,
       count_order
FROM a"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): segment-filtered customer ⋈ orders ⋈
    lineitem with opposing date predicates, top-10 unshipped orders by
    revenue.  customer is dim-sized → broadcast; the lineitem↔orders
    shuffle keys on orderkey.  Revenue ranks on EXACT integer 1e-4 units
    (never the float rendering), so the top-10 — tie-broken by orderdate,
    orderkey — is a total order both engines agree on; TakeOrdered keeps
    the limit partial (≤10 rows per partition reach the driver)."""
    t = nyc_views.load_tables(spark, sf_dir)
    cutoff = F.lit("1998-03-15").cast("timestamp")
    rev_u = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    j = (
        t["lineitem"]
        .where(F.col("l_shipdate") > cutoff)
        .join(
            t["orders"].where(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                t["customer"].where(F.col("c_mktsegment") == "BUILDING")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(rev_u).alias("__rev_u")
    )
    out = agg.orderBy(
        F.desc("__rev_u"), F.asc("o_orderdate"), F.asc("l_orderkey")
    ).limit(10)
    return out.select(
        "l_orderkey",
        (F.col("__rev_u") / 10000.0).alias("revenue"),
        "o_orderdate",
        "o_orderpriority",
    )


_SQL_TPCH_Q3 = """
WITH a AS (
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                         AS BIGINT)) AS BIGINT) AS rev_u
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY 1, 2, 3
)
SELECT l_orderkey, rev_u / 10000.0 AS revenue, o_orderdate, o_orderpriority
FROM a
ORDER BY rev_u DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table join — lineitem ⋈
    orders shuffle on orderkey, supplier/customer/nation/region ride as
    broadcast dims, with the customer-and-supplier-share-a-nation
    residual equality.  Revenue per nation in exact integer units; the
    output orders on those units (total order: revenue desc, name)."""
    t = nyc_views.load_tables(spark, sf_dir)
    rev_u = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    j = (
        t["lineitem"]
        .join(
            t["orders"].where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["customer"]),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    agg = j.groupBy("n_name").agg(F.sum(rev_u).alias("__rev_u"))
    return agg.select(
        "n_name", (F.col("__rev_u") / 10000.0).alias("revenue")
    )


_SQL_TPCH_Q5 = """
SELECT n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                     AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the pure predicate-pushdown
    probe — a three-way range filter folding to ONE row with no join and
    no wide shuffle; the plan should show every predicate inside the
    parquet scan.  Revenue (price × discount) sums in exact 1e-4 units."""
    li = nyc_views.load_tables(spark, sf_dir)["lineitem"]
    rev_u = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 10000 + F.lit(0.5)
    ).cast("long")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        (F.sum(rev_u) / 10000.0).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


_SQL_TPCH_Q6 = """
SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5)
                     AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24"""


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × sketches: approximate distinct over a STREAM with bounded
    state.  The weather feed replays through the file source; the
    streaming aggregation keeps one HLL register file per day —
    `groupBy(window, bucket).max(rho)` is a streaming-supported aggregate
    whose state is days × 2^p rows regardless of feed volume, and the
    sketch is re-delivery-insensitive by construction (a duplicate row
    can never raise a register), so it needs no dedup state at all.  The
    estimator tail runs batch-side on the drained register sink; the
    oracle recomputes registers + estimate from the batch weather view —
    stream and batch register files must agree bit-for-bit.  The
    distinct-counted value is the (temp×10, humidity) observation state
    on an exact integer lattice (identical rendering both engines)."""
    from .operators import sketches
    from .streaming import weather_stream
    from .util import stream_feed

    # shares q_stream_hourly's memoized weather feed
    stream = stream_feed(_weather(spark, sf_dir), "weather_feed", sf_dir, n_files=2)

    val = F.concat_ws(
        "|",
        F.floor(F.col("temp_f") * 10 + F.lit(0.5)).cast("long"),
        F.col("humidity_pct").cast("long"),
    )
    rows = (
        stream.withWatermark("observed_at", "2 hours")
        .where(
            F.col("observed_at").isNotNull()
            & F.col("temp_f").isNotNull()
            & F.col("humidity_pct").isNotNull()
        )
        .select(
            F.window("observed_at", "1 day").alias("win"), val.alias("__v")
        )
        # hash once, derive bucket+rho from it (hll_registers does the
        # same batch-side; inlining would run md5 twice per row)
        .select(
            "win", sketches._h60(F.col("__v")).alias("__h")
        )
        .select(
            "win",
            F.col("__h").bitwiseAND((1 << 9) - 1).cast("int").alias("bucket"),
            F.when(F.shiftright("__h", 9) == 0, F.lit(60 - 9 + 1))
            .otherwise(
                F.lit(60 - 9 + 1)
                - F.length(F.conv(F.shiftright("__h", 9), 10, 2))
            )
            .cast("int")
            .alias("__rho"),
        )
    )
    regs = rows.groupBy("win", "bucket").agg(F.max("__rho").alias("rho"))
    sink = weather_stream.drain_available_now(regs, "q_stream_hll_sink").select(
        F.col("win.start").alias("day"), "bucket", "rho"
    )
    est = sketches.hll_estimate_from_registers(sink, ("day",), p=9)
    exact = (
        _weather(spark, sf_dir)
        .where(
            F.col("observed_at").isNotNull()
            & F.col("temp_f").isNotNull()
            & F.col("humidity_pct").isNotNull()
        )
        .select(
            F.date_trunc("day", F.col("observed_at")).alias("day"),
            val.alias("__v"),
        )
        .groupBy("day")
        .agg(F.count_distinct("__v").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "day").select(
        "day",
        "used_registers",
        "zero_registers",
        _rnd(F.col("est_distinct"), 4).alias("est_distinct"),
        "exact_distinct",
    )


def q_stream_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × sketches: streaming QUANTILES with bounded state — the
    16th streaming query, the histogram leg of the portable-sketch
    stream family (HLL→distinct, Count-Min→frequency, Bloom→membership,
    KMV/min-k→cardinality, MG→heavy hitters, histogram→quantiles).  The
    weather feed replays through the file source; the streaming
    aggregation keeps ONE fixed-literal-ruler bin-count table per day
    (bin = temp's ×10-lattice value div 50, the q_histogram_quantiles
    discipline: no data-dependent edges, so merges/restarts never
    re-bucket) — state is days × ≤ ruler bins regardless of feed volume.
    The batch-side tail answers each day's type-1 median from the
    drained ≤bins-row sink (cumulative over the tiny per-day frame);
    the oracle recomputes bins + median from the batch weather view —
    counts must agree exactly (availableNow processes each row exactly
    once, and a bin SUM is order-insensitive)."""
    from .streaming import weather_stream
    from .util import stream_feed

    # shares q_stream_hourly's memoized weather feed
    stream = stream_feed(_weather(spark, sf_dir), "weather_feed", sf_dir, n_files=2)
    regs = (
        stream.withWatermark("observed_at", "2 hours")
        .where(
            F.col("observed_at").isNotNull() & F.col("temp_f").isNotNull()
        )
        .select(
            F.window("observed_at", "1 day").alias("win"),
            # +2000 shift keeps the lattice non-negative (temp_f ≥ −40
            # here) so Spark's truncating div == DuckDB's flooring // —
            # the possibly-negative-division lesson (NOTES round 7)
            F.expr(
                "CAST((CAST(floor(temp_f * 10 + 0.5) AS BIGINT) + 2000)"
                " div 50 AS BIGINT)"
            ).alias("bin"),
        )
        .groupBy("win", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    sink = weather_stream.drain_available_now(regs, "q_stream_histogram_sink").select(
        F.col("win.start").alias("day"), "bin", "cnt"
    )
    w = Window.partitionBy("day").orderBy("bin")
    day_tot = sink.groupBy("day").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    cum = sink.withColumn(
        "cum", F.sum("cnt").over(w).cast("long")
    )
    med = (
        cum.join(day_tot, "day")
        .where(F.col("cum") * 2 >= F.col("n_rows") + 1)
        .groupBy("day")
        .agg(F.min("bin").cast("long").alias("p50_bin"))
    )
    return day_tot.join(med, "day").select(
        "day",
        "n_rows",
        "n_bins",
        F.col("p50_bin"),
        (F.col("p50_bin") * 50 - 2000).cast("long").alias("p50_lo_u"),
    )


_SQL_STREAM_HISTOGRAM_SELECT = """
SELECT t.day, t.n_rows, t.n_bins, m.p50_bin,
       CAST(m.p50_bin * 50 - 2000 AS BIGINT) AS p50_lo_u
FROM (
    SELECT day, CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_bins
    FROM (
        SELECT CAST(date_trunc('day', observed_at) AS TIMESTAMP) AS day,
               (CAST(floor(temp_f * 10 + 0.5) AS BIGINT) + 2000) // 50
                   AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM weather
        WHERE observed_at IS NOT NULL AND temp_f IS NOT NULL
        GROUP BY 1, 2
    ) GROUP BY 1
) t
JOIN (
    SELECT day, CAST(min(bin) AS BIGINT) AS p50_bin
    FROM (
        SELECT day, bin, cnt,
               sum(cnt) OVER (PARTITION BY day ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY day) AS n
        FROM (
            SELECT CAST(date_trunc('day', observed_at) AS TIMESTAMP) AS day,
                   (CAST(floor(temp_f * 10 + 0.5) AS BIGINT) + 2000) // 50
                       AS bin,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM weather
            WHERE observed_at IS NOT NULL AND temp_f IS NOT NULL
            GROUP BY 1, 2
        )
    ) WHERE cum * 2 >= n + 1 GROUP BY 1
) m ON m.day = t.day"""


_SQL_STREAM_HLL_SELECT = """
SELECT e.day, e.used_registers, e.zero_registers,
       round(1e-9 + e.est, 4) AS est_distinct, x.exact_distinct
FROM (
    SELECT day, CAST(used AS INTEGER) AS used_registers,
           CAST(512 - used AS INTEGER) AS zero_registers,
           CASE WHEN 8.497699123215257e+20
                     / CAST(s + CAST(512 - used AS BIGINT)
                            * CAST(4503599627370496 AS BIGINT) AS DOUBLE)
                     <= 1280.0
                 AND 512 - used > 0
                THEN 512.0 * ln(512.0 / CAST(512 - used AS DOUBLE))
                ELSE 8.497699123215257e+20
                     / CAST(s + CAST(512 - used AS BIGINT)
                            * CAST(4503599627370496 AS BIGINT) AS DOUBLE)
           END AS est
    FROM (
        SELECT day, count(*) AS used,
               CAST(sum(CAST(1 AS BIGINT) << (52 - rho)) AS BIGINT) AS s
        FROM (
            SELECT day, CAST(h % 512 AS INTEGER) AS bucket,
                   MAX(CASE WHEN h // 512 = 0 THEN 52
                            ELSE 52 - length(bin(h // 512)) END) AS rho
            FROM (
                SELECT CAST(date_trunc('day', observed_at) AS TIMESTAMP) AS day,
                       CAST(('0x' || substr(md5(
                           CAST(CAST(floor(temp_f * 10 + 0.5) AS BIGINT)
                                AS VARCHAR)
                           || '|' || CAST(CAST(humidity_pct AS BIGINT)
                                          AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                FROM weather
                WHERE observed_at IS NOT NULL AND temp_f IS NOT NULL
                  AND humidity_pct IS NOT NULL
            ) GROUP BY 1, 2
        ) GROUP BY 1
    )
) e
JOIN (
    SELECT CAST(date_trunc('day', observed_at) AS TIMESTAMP) AS day,
           CAST(count(DISTINCT CAST(CAST(floor(temp_f * 10 + 0.5) AS BIGINT)
                                    AS VARCHAR)
                      || '|' || CAST(CAST(humidity_pct AS BIGINT) AS VARCHAR))
                AS BIGINT) AS exact_distinct
    FROM weather
    WHERE observed_at IS NOT NULL AND temp_f IS NOT NULL
      AND humidity_pct IS NOT NULL
    GROUP BY 1
) x USING (day)"""


def q_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × drift: a STREAMING distribution-drift monitor with bounded
    state — per-day PSI of the temperature distribution against the
    whole feed's, the production shape for "did today's feed drift?".
    The reference decile boundaries are trained batch-side
    (`sampling.quantile_bounds`, exact type-1; ≤ 9 scalars collected)
    and folded into the stream as a LITERAL array, so the streaming
    aggregation is a plain `groupBy(window, bin).count()` whose state is
    days × 10 rows regardless of feed volume — and counts replayed
    through the availableNow file source are exactly-once.  The PSI
    tail (`drift.grid_from_counts` + `psi_from_grid` — the SAME
    arithmetic as the batch q_psi_drift) runs batch-side on the drained
    (day × bin) sink; the oracle recomputes boundaries, bins, counts,
    and the smoothed fold from the batch weather view, so stream and
    batch count frames must agree exactly."""
    from .operators import drift
    from .operators.sampling import quantile_bounds
    from .streaming import weather_stream

    notnull = F.col("observed_at").isNotNull() & F.col("temp_f").isNotNull()
    w = _weather(spark, sf_dir).where(notnull)
    bounds_row = quantile_bounds(w, "temp_f", 10).collect()[0][0]
    x = F.col("temp_f")
    if bounds_row:
        bin_expr = F.aggregate(
            F.array(*[F.lit(b) for b in bounds_row]),
            F.lit(1),
            lambda acc, b: acc + F.when(x > b, 1).otherwise(0),
        ).cast("int")
    else:
        bin_expr = F.lit(1)

    from .util import stream_feed

    # shares q_stream_hourly's memoized weather feed
    stream = stream_feed(_weather(spark, sf_dir), "weather_feed", sf_dir, n_files=2)
    counts = (
        stream.withWatermark("observed_at", "2 hours")
        .where(notnull)
        .select(
            F.window("observed_at", "1 day").alias("win"),
            bin_expr.alias("bin"),
        )
        .groupBy("win", "bin")
        .agg(F.count(F.lit(1)).alias("c_g"))
    )
    sink = weather_stream.drain_available_now(counts, "q_stream_psi_sink").select(
        F.col("win.start").alias("grp"), "bin", "c_g"
    )
    out = drift.psi_from_grid(drift.grid_from_counts(sink, 10), "day")
    return out.select("day", "n_rows", _rnd(F.col("psi"), 6).alias("psi"))


_SQL_STREAM_PSI_SELECT = """
SELECT day, CAST(n_g AS BIGINT) AS n_rows,
       round(1e-9 + sum((p_g - p_r) * ln(p_g / p_r)), 6) AS psi
FROM (
    WITH nn AS (
        SELECT obs_id,
               CAST(date_trunc('day', observed_at) AS TIMESTAMP) AS day,
               temp_f AS v
        FROM weather
        WHERE observed_at IS NOT NULL AND temp_f IS NOT NULL
    ),
    n_all AS (SELECT count(*) AS n FROM nn),
    vc AS (SELECT v, count(*) AS c FROM nn GROUP BY 1),
    cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cle FROM vc),
    bounds AS (
        SELECT i, min(v) AS bound
        FROM cum, n_all, range(1, 10) t(i)
        WHERE cle * 10 >= i * n
        GROUP BY 1
    ),
    binned AS (
        SELECT d.day, d.obs_id, 1 + count(b.bound) AS bin
        FROM nn d LEFT JOIN bounds b ON d.v > b.bound
        GROUP BY 1, 2
    ),
    per_g AS (SELECT day, bin, count(*) AS c_g FROM binned GROUP BY 1, 2),
    per_ref AS (SELECT bin, count(*) AS c_r FROM binned GROUP BY 1),
    n_g AS (SELECT day, sum(c_g) AS n_g FROM per_g GROUP BY 1)
    SELECT g.day, g.n_g,
           (coalesce(pg.c_g, 0) + 1) / (g.n_g + 10) AS p_g,
           (coalesce(pr.c_r, 0) + 1) / (n_all.n + 10) AS p_r
    FROM n_g g
    CROSS JOIN range(1, 11) t(bin)
    LEFT JOIN per_g pg ON pg.day = g.day AND pg.bin = t.bin
    LEFT JOIN per_ref pr ON pr.bin = t.bin
    CROSS JOIN n_all
)
GROUP BY day, n_g"""


ORACLES: dict[str, str] = {
    "q_backfill_synthetic": _with(
        SQL_TRIPS,
        SQL_WEATHER,
        SQL_STG_TRIPS,
        SQL_STG_WEATHER,
        select=_SQL_BACKFILL_SYNTHETIC,
    ),
    "q_quality_report": _with(
        SQL_TRIPS, SQL_WEATHER, select=_SQL_QUALITY_REPORT
    ),
    "q_pivot": _SQL_PIVOT,
    "q_rollup": _with(SQL_TRIPS, SQL_STG_TRIPS, SQL_ZONES, select=_SQL_ROLLUP),
    "q_gapfill": _with(SQL_WEATHER, select=_SQL_GAPFILL),
    "q_interpolate": _with(SQL_WEATHER, select=_SQL_INTERPOLATE),
    "q_sessions": _SQL_SESSIONS,
    "q_topk_per_group": _SQL_TOPK_PER_GROUP,
    "q_asof_join": _with(SQL_TRIPS, SQL_WEATHER, SQL_STG_TRIPS, SQL_STG_WEATHER, select=_SQL_ASOF_JOIN),
    "q_asof_multi": _with(SQL_TRIPS, SQL_WEATHER, SQL_STG_TRIPS, SQL_STG_WEATHER, select=_SQL_ASOF_MULTI),
    "q_stream_asof": _with(SQL_WEATHER, select=_SQL_STREAM_ASOF),
    "q_interval_join": _with(SQL_TRIPS, SQL_WEATHER, SQL_STG_TRIPS, SQL_STG_WEATHER, select=_SQL_INTERVAL_JOIN),
    "q_concurrency": _with(SQL_TRIPS, SQL_STG_TRIPS, _SQL_CONCURRENCY_T, select=_SQL_CONCURRENCY),
    "q_semi_join": _SQL_SEMI_JOIN,
    "q_bloom_join": _SQL_BLOOM_JOIN,
    "q_window_stats": _SQL_WINDOW_STATS,
    "q_dropna": _with(
        SQL_TRIPS,
        select="""
SELECT * FROM trips
WHERE pickup_datetime IS NOT NULL AND dropoff_datetime IS NOT NULL
  AND pickup_zone_id IS NOT NULL AND dropoff_zone_id IS NOT NULL""",
    ),
    "q_limit": """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 5000""",
    "q_star_join": _SQL_STAR_JOIN,
    "q_stream_hll": _with(SQL_WEATHER, select=_SQL_STREAM_HLL_SELECT),
    "q_stream_histogram": _with(
        SQL_WEATHER, select=_SQL_STREAM_HISTOGRAM_SELECT
    ),
    "q_stream_psi": _with(SQL_WEATHER, select=_SQL_STREAM_PSI_SELECT),
    "q_tpch_q1": _SQL_TPCH_Q1,
    "q_tpch_q3": _SQL_TPCH_Q3,
    "q_tpch_q5": _SQL_TPCH_Q5,
    "q_tpch_q6": _SQL_TPCH_Q6,
    "q_zorder_cells": _SQL_ZORDER_CELLS,
    "q_hilbert_cells": _SQL_HILBERT_CELLS,
    "q_pagerank_zones": _SQL_PAGERANK_ZONES,
    "q_shortest_path": _SQL_SHORTEST_PATH,
    "q_triangle_count": _SQL_TRIANGLE_COUNT,
    "q_skew_agg": _SQL_SKEW_AGG,
    "q_skew_join": _SQL_SKEW_JOIN,
    "q_incremental_agg": _with(
        SQL_TRIPS, SQL_STG_TRIPS, select=_SQL_INCREMENTAL_AGG
    ),
    "q_merge_upsert": _SQL_MERGE_UPSERT,
    "q_freshness": _with(
        SQL_TRIPS, SQL_WEATHER, _SQL_FRESHNESS_CTE, select=_SQL_FRESHNESS
    ),
    "q_conversion_funnel": _SQL_CONVERSION_FUNNEL,
    "q_window_funnel": _SQL_WINDOW_FUNNEL,
    "q_retention_cohort": _SQL_RETENTION_COHORT,
    "q_scd2_check": _SQL_SCD2_CHECK,
    "q_scd2_timestamp": _SQL_SCD2_TIMESTAMP,
    "q_stg_trips": _with(SQL_TRIPS, SQL_STG_TRIPS, select="SELECT * FROM stg_trips"),
    "q_stg_weather": _with(
        SQL_WEATHER, SQL_STG_WEATHER, select="SELECT * FROM stg_weather"
    ),
    "q_enrich": _with(
        SQL_TRIPS, SQL_STG_TRIPS, SQL_INT_TRIPS_ENRICHED,
        select="SELECT * FROM enriched",
    ),
    "q_weather_hourly": _with(
        SQL_WEATHER,
        SQL_STG_WEATHER,
        SQL_INT_WEATHER_HOURLY,
        select="""
SELECT observation_hour, city,
       round(1e-9 + avg_temperature_fahrenheit, 4) AS avg_temperature_fahrenheit,
       min_temperature_fahrenheit, max_temperature_fahrenheit,
       round(1e-9 + avg_humidity_percent, 4) AS avg_humidity_percent,
       weather_description, observation_count, latest_observation_at
FROM weather_hourly""",
    ),
    "q_stream_dedup": _with(
        SQL_WEATHER,
        select="""
SELECT obs_id, observed_at, city, temp_f, weather_desc, humidity_pct
FROM weather""",
    ),
    "q_stream_hourly": _with(
        SQL_WEATHER,
        SQL_STG_WEATHER,
        SQL_INT_WEATHER_HOURLY,
        select="""
SELECT observation_hour, city,
       round(1e-9 + avg_temperature_fahrenheit, 4) AS avg_temperature_fahrenheit,
       min_temperature_fahrenheit, max_temperature_fahrenheit,
       round(1e-9 + avg_humidity_percent, 4) AS avg_humidity_percent,
       weather_description, observation_count, latest_observation_at
FROM weather_hourly""",
    ),
    "q_trips_weather": _with(
        SQL_TRIPS,
        SQL_WEATHER,
        SQL_STG_TRIPS,
        SQL_STG_WEATHER,
        SQL_INT_TRIPS_ENRICHED,
        SQL_INT_WEATHER_HOURLY,
        SQL_MART_TRIPS_WEATHER,
        select="""
SELECT hour_ts,
       round(1e-9 + avg_temperature_fahrenheit, 4) AS avg_temperature_fahrenheit,
       round(1e-9 + avg_humidity_percent, 4) AS avg_humidity_percent,
       weather_description, hour_of_day, day_of_week, day_name, is_weekend,
       trip_count,
       round(1e-9 + avg_trip_distance, 4) AS avg_trip_distance,
       round(1e-9 + avg_total_amount, 4) AS avg_total_amount,
       round(1e-9 + avg_trip_duration_minutes, 4) AS avg_trip_duration_minutes,
       round(1e-9 + avg_speed_mph, 4) AS avg_speed_mph
FROM mart_trips_weather""",
    ),
    "q_daily": _with(
        SQL_TRIPS,
        SQL_WEATHER,
        SQL_STG_TRIPS,
        SQL_STG_WEATHER,
        SQL_INT_TRIPS_ENRICHED,
        SQL_INT_WEATHER_HOURLY,
        SQL_MART_DAILY_METRICS,
        select="""
SELECT trip_date, trip_count,
       round(1e-9 + total_revenue, 2) AS total_revenue,
       round(1e-9 + avg_fare, 4) AS avg_fare,
       round(1e-9 + avg_distance, 4) AS avg_distance,
       round(1e-9 + avg_duration_minutes, 4) AS avg_duration_minutes,
       round(1e-9 + avg_passenger_count, 4) AS avg_passenger_count,
       weekend_trip_count, weekday_trip_count,
       round(1e-9 + avg_daily_temperature, 4) AS avg_daily_temperature,
       min_daily_temperature, max_daily_temperature,
       round(1e-9 + avg_daily_humidity, 4) AS avg_daily_humidity
FROM mart_daily_metrics""",
    ),
    "q_zone_analysis": _with(
        SQL_TRIPS,
        SQL_STG_TRIPS,
        SQL_INT_TRIPS_ENRICHED,
        SQL_MART_ZONE_ANALYSIS,
        select="""
SELECT pickup_zone_id, dropoff_zone_id, trip_count,
       round(1e-9 + avg_trip_distance, 4) AS avg_trip_distance,
       round(1e-9 + avg_total_amount, 4) AS avg_total_amount,
       round(1e-9 + avg_trip_duration_minutes, 4) AS avg_trip_duration_minutes,
       round(1e-9 + avg_passenger_count, 4) AS avg_passenger_count,
       weekend_trip_count, weekday_trip_count, peak_hour
FROM mart_zone_analysis""",
    ),
    "q_zone_demand": _with(
        SQL_TRIPS,
        SQL_STG_TRIPS,
        SQL_ZONE_DEMAND,
        select="""
SELECT pickup_zone_id, trip_date, trip_count,
       round(1e-9 + avg_distance, 4) AS avg_distance,
       round(1e-9 + avg_amount, 4) AS avg_amount
FROM zone_demand""",
    ),
    "q_anomaly_mad": _with(
        SQL_TRIPS,
        SQL_STG_TRIPS,
        SQL_ZONE_DEMAND,
        select=_SQL_ANOMALY_MAD_SELECT,
    ),
    "q_rolling_median": _with(
        SQL_TRIPS,
        SQL_STG_TRIPS,
        SQL_ZONE_DEMAND,
        select=_SQL_ROLLING_MEDIAN_SELECT,
    ),
    "q_demand_corr": _with(
        SQL_TRIPS,
        SQL_STG_TRIPS,
        SQL_ZONE_DEMAND,
        select=_SQL_DEMAND_CORR_SELECT,
    ),
    "q_zone_dim": _with(
        SQL_TRIPS,
        SQL_STG_TRIPS,
        SQL_ZONES,
        select="""
SELECT z.borough, count(*) AS trip_count,
       round(1e-9 + avg(t.total_amount), 4) AS avg_amount
FROM stg_trips t
LEFT JOIN zones z ON t.pickup_zone_id = z.location_id
GROUP BY 1""",
    ),
    "q_antijoin": _with(
        SQL_TRIPS,
        SQL_WEATHER,
        SQL_STG_TRIPS,
        SQL_STG_WEATHER,
        select="""
SELECT th.hour_ts
FROM (SELECT DISTINCT date_trunc('hour', pickup_datetime) AS hour_ts FROM stg_trips) th
LEFT JOIN (SELECT DISTINCT date_trunc('hour', observed_at) AS hour_ts
           FROM stg_weather WHERE city = 'NEW YORK') wh
  ON th.hour_ts = wh.hour_ts
WHERE wh.hour_ts IS NULL""",
    ),
    "q_distinct_hours": _with(
        SQL_WEATHER,
        SQL_STG_WEATHER,
        select="SELECT DISTINCT date_trunc('hour', observed_at) AS hour_ts FROM stg_weather",
    ),
    "q_minmax": _with(
        SQL_TRIPS,
        SQL_STG_TRIPS,
        select="""
SELECT min(pickup_datetime) AS min_pickup, max(pickup_datetime) AS max_pickup,
       count(*) AS n_rows
FROM stg_trips""",
    ),
    "q_precip_day": _with(
        SQL_WEATHER,
        SQL_DAILY_WEATHER_FORECAST,
        select="""
SELECT forecast_date,
       round(1e-9 + avg_temperature, 4) AS avg_temperature,
       round(1e-9 + avg_humidity, 4) AS avg_humidity,
       is_precip_day
FROM daily_forecast""",
    ),
    "q_fare_daily_features": _with(*_SQL_FDF_BLOCKS, select=_SQL_FDF_ROUNDED),
    "q_lag_ma": """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, avg(value) AS v FROM events GROUP BY 1
)
SELECT d, round(1e-9 + v, 4) AS v,
       round(1e-9 + lag(v, 1) OVER (ORDER BY d), 4) AS v_lag1,
       round(1e-9 + lag(v, 7) OVER (ORDER BY d), 4) AS v_lag7,
       round(1e-9 + avg(v) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS v_ma7
FROM daily""",
    "q_top1": _with(
        *_SQL_FDF_BLOCKS,
        select=_SQL_FDF_ROUNDED + " ORDER BY trip_date DESC LIMIT 1",
    ),
    "q_eval_metrics": _with(
        *_SQL_FDF_BLOCKS,
        select="""
SELECT round(1e-9 + avg(abs(avg_fare - avg_fare_ma7)), 4) AS mae,
       round(1e-9 + avg(abs((avg_fare - avg_fare_ma7) / avg_fare)), 4) AS mape,
       count(*) AS n_days
FROM fare_daily_features
WHERE trip_date > (SELECT max(trip_date) - 7 FROM fare_daily_features)""",
    ),
    "q_forecast_eval": _with(
        *_SQL_FDF_BLOCKS,
        select="""
SELECT * FROM (
    WITH eval AS (
        SELECT trip_date AS eval_date, avg_fare AS actual_fare,
               avg_fare_lag7 AS predicted_fare
        FROM fare_daily_features
        WHERE trip_count IS NOT NULL AND avg_distance IS NOT NULL
          AND weekend_trip_count IS NOT NULL AND weekday_trip_count IS NOT NULL
          AND avg_daily_temperature IS NOT NULL AND avg_daily_humidity IS NOT NULL
          AND is_precip_day IS NOT NULL AND avg_fare_lag1 IS NOT NULL
          AND avg_fare_lag7 IS NOT NULL AND avg_fare_ma7 IS NOT NULL
          AND avg_fare IS NOT NULL
        ORDER BY trip_date DESC LIMIT 7
    )
    SELECT eval_date, 'day' AS row_type,
           round(1e-9 + actual_fare, 4) AS actual_fare,
           round(1e-9 + predicted_fare, 4) AS predicted_fare,
           round(1e-9 + (actual_fare - predicted_fare), 4) AS error,
           round(1e-9 + abs((actual_fare - predicted_fare) / actual_fare), 6) AS mape
    FROM eval
    UNION ALL
    SELECT NULL AS eval_date, 'summary' AS row_type,
           NULL AS actual_fare, NULL AS predicted_fare,
           round(1e-9 + avg(abs(actual_fare - predicted_fare)), 4) AS error,
           round(1e-9 + avg(abs((actual_fare - predicted_fare) / actual_fare)), 6) AS mape
    FROM eval
)""",
    ),
    "q_union_summary": _with(
        *_SQL_FDF_BLOCKS,
        select="""
SELECT eval_date, row_type, abs_error, abs_pct_error FROM (
    SELECT trip_date AS eval_date, 'day' AS row_type,
           round(1e-9 + abs(avg_fare - avg_fare_ma7), 4) AS abs_error,
           round(1e-9 + abs((avg_fare - avg_fare_ma7) / avg_fare), 4) AS abs_pct_error
    FROM fare_daily_features
    WHERE trip_date > (SELECT max(trip_date) - 7 FROM fare_daily_features)
    UNION ALL
    SELECT NULL AS eval_date, 'summary' AS row_type,
           round(1e-9 + avg(abs(avg_fare - avg_fare_ma7)), 4) AS abs_error,
           round(1e-9 + avg(abs((avg_fare - avg_fare_ma7) / avg_fare)), 4) AS abs_pct_error
    FROM fare_daily_features
    WHERE trip_date > (SELECT max(trip_date) - 7 FROM fare_daily_features)
)""",
    ),
    "q_merge_dedup": """
WITH target AS (
    SELECT * FROM lineitem WHERE l_linenumber <= 4
),
staging AS (
    SELECT * FROM lineitem WHERE l_linenumber >= 4
),
merged AS (
    SELECT * FROM target
    UNION ALL
    SELECT s.* FROM staging s
    WHERE NOT EXISTS (
        SELECT 1 FROM target t
        WHERE t.l_orderkey = s.l_orderkey AND t.l_partkey = s.l_partkey
          AND t.l_suppkey = s.l_suppkey AND t.l_linenumber = s.l_linenumber
          AND t.l_quantity = s.l_quantity AND t.l_extendedprice = s.l_extendedprice
    )
)
SELECT l_returnflag, count(*) AS row_count,
       round(1e-9 + sum(l_extendedprice), 2) AS sum_price
FROM merged GROUP BY 1""",
    "q_project": """
SELECT l_orderkey AS order_key,
       CAST(l_linenumber AS INTEGER) AS line_number,
       CAST(floor(l_quantity) AS INTEGER) AS quantity,
       CAST(l_extendedprice AS DOUBLE) AS price,
       l_returnflag AS return_flag,
       CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
WHERE l_quantity > 0 AND l_extendedprice > 0""",
    "q_variant_json": _with(
        SQL_WEATHER,
        select=_SQL_VARIANT_JSON_SELECT,
    ),
    "q_stream_sessions": _SQL_STREAM_SESSIONS,
    "q_stream_join": _with(
        SQL_WEATHER,
        select=_SQL_STREAM_JOIN_SELECT,
    ),
    "q_event_paths": _SQL_EVENT_PATHS,
    "q_json_extract": _with(
        SQL_WEATHER,
        select="""
SELECT obs_id, CAST(json_extract_string(raw_json, '$.k') AS INTEGER) AS k_value
FROM weather""",
    ),
    "q_surrogate_key": _with(
        SQL_WEATHER,
        select="""
SELECT obs_id,
       md5(concat_ws('-',
           coalesce(CAST(city AS VARCHAR), ''),
           coalesce(strftime(observed_at, '%Y-%m-%d %H:%M:%S'), ''))) AS weather_key
FROM weather""",
    ),
}
