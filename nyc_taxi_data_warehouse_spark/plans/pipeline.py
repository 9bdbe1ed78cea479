"""Pipeline runner — the Airflow DAG wiring (SURVEY §3) as ~100 lines.

The reference orchestrates: hourly trips ingest (§3.1), daily dbt model DAG
(§3.2), snapshots, tests, and the forecasting chain (§3.3). Here the model
DAG is function composition (Spark's laziness = dbt views), marts are
persisted as date-partitioned parquet, and the quality suite runs last —
the same topo order `dbt run → snapshot → test` uses.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import quality
from ..operators.merge import merge_insert_only
from . import features, intermediate, marts, staging

TRIP_KEY = [
    "pickup_datetime",
    "dropoff_datetime",
    "pickup_zone_id",
    "dropoff_zone_id",
    "trip_distance",
    "total_amount",
]


def ingest_trips(raw_month: DataFrame, fact: DataFrame | None) -> DataFrame:
    """Hourly ingest (§3.1): project/filter the raw month slice, then
    dedup-MERGE into the fact table on the 6-col natural key
    (`dags/etl_spark_historical.py:178-195,349-380`). No CSV détour, no
    staging table — left-anti + append is atomic enough on a lake table."""
    cleaned = raw_month.na.drop(
        subset=["pickup_datetime", "dropoff_datetime", "pickup_zone_id", "dropoff_zone_id"]
    ).where((F.col("trip_distance") > 0) & (F.col("total_amount") > 0))
    if fact is None:
        return cleaned
    return merge_insert_only(fact, cleaned, TRIP_KEY)


@dataclass
class ModelRun:
    """All model outputs of one transformation run (the dbt DAG, §3.2)."""

    stg_trips: DataFrame
    stg_weather: DataFrame
    enriched: DataFrame
    weather_hourly: DataFrame
    mart_trips_weather: DataFrame
    mart_daily_metrics: DataFrame
    mart_zone_analysis: DataFrame
    fare_daily_features: DataFrame
    quality_results: list = field(default_factory=list)
    freshness_results: list = field(default_factory=list)


FRESHNESS_SLAS = [
    # (source, ts_col, warn_hours, error_hours) — the reference's
    # `dbt source freshness` contracts, models/staging/sources.yml:13-15,37-39
    ("raw_taxi_trips", "pickup_datetime", 24, 48),
    ("raw_weather", "observed_at", 2, 4),
]


def run_models(
    trips: DataFrame,
    weather: DataFrame,
    run_quality: bool = True,
    run_freshness: bool = True,
    freshness_as_of: str | None = None,
) -> ModelRun:
    """The dbt DAG in topo order. `int_trips_enriched` feeds all three marts
    (`mart_*.sql:9`), so it is cached once — the engine-side equivalent of
    dbt's view-vs-table materialization decision.

    ``run_freshness=True`` prepends the `dbt source freshness` stage over
    the RAW sources (the reference runs it before transforms,
    `dags/dbt_transformation_dag.py:85-88`): with ``freshness_as_of=None``
    it grades source ages against the wall clock — the operational
    scheduled-run behavior — and a stale source lands in the returned
    ``freshness_results`` as 'warn'/'fail' rather than aborting the run
    (dbt semantics: freshness warns/errors are reported, models still
    build)."""
    st = staging.stg_taxi_trips(trips)
    sw = staging.stg_weather(weather)
    enr = intermediate.int_trips_enriched(st).cache()
    wh = intermediate.int_weather_hourly(sw)
    mtw = marts.mart_trips_weather(enr, wh)
    mdm = marts.mart_daily_metrics(enr, wh)
    mza = marts.mart_zone_analysis(enr)
    fdf = features.fare_daily_features(mdm, features.daily_weather_forecast(
        weather
    ))
    fresh = []
    if run_freshness:
        raw = {"raw_taxi_trips": trips, "raw_weather": weather}
        fresh = quality.freshness_report(
            [(n, raw[n], ts, w, e) for n, ts, w, e in FRESHNESS_SLAS],
            as_of=freshness_as_of,
        ).collect()
    results = []
    if run_quality:
        suite = quality.reference_check_suite(st, sw, mtw, mdm)
        results = quality.run_checks(suite)
    return ModelRun(st, sw, enr, wh, mtw, mdm, mza, fdf, results, fresh)


def run_snapshots(
    run: ModelRun,
    prev_weather_snap: DataFrame | None,
    prev_daily_snap: DataFrame | None,
    as_of: datetime,
) -> tuple[DataFrame, DataFrame]:
    """The `dbt snapshot` stage (§3.2, runs AFTER models because
    snp_daily_metrics refs mart_daily_metrics): C1 timestamp-strategy over
    weather observations, C2 check-strategy over daily metrics."""
    from ..operators import scd

    weather_src = run.stg_weather.select(
        "city", "observed_at", "temperature_fahrenheit", "humidity_percent", "load_ts"
    )
    snp_weather = scd.snapshot_timestamp(
        prev_weather_snap,
        weather_src,
        key=["city", "observed_at"],
        updated_at="load_ts",
        as_of=as_of,
        invalidate_hard_deletes=True,
    )
    daily_src = run.mart_daily_metrics.select(
        "trip_date",
        "trip_count",
        "total_revenue",
        "avg_fare",
        "avg_distance",
        "weekend_trip_count",
        "weekday_trip_count",
    )
    snp_daily = scd.snapshot_check(
        prev_daily_snap,
        daily_src,
        key=["trip_date"],
        check_cols=[
            "trip_count",
            "total_revenue",
            "avg_fare",
            "avg_distance",
            "weekend_trip_count",
            "weekday_trip_count",
        ],
        as_of=as_of,
    )
    return snp_weather, snp_daily


def run_forecast_chain(spark: SparkSession, run: ModelRun):
    """The three forecasting DAGs (§3.3) end-to-end: train → 7-day recursive
    forecast → hindcast eval. Returns (TrainResult, forecast_df, eval_df).

    The reference DAGs load FARE_DAILY_FEATURES once and work on that copy;
    here the daily-grain feature table is materialized once with an eager
    ``localCheckpoint`` and all three stages read it.  Left lazy, every
    count, fit pass, collect and write re-derives it from
    ``mart_daily_metrics`` plus a raw weather scan.  The outputs do not
    change: ``train``'s unpartitioned window sorts by ``trip_date``, so the
    forest fits the same rows in one partition either way."""
    from ..ml import forecast

    feats = run.fare_daily_features.localCheckpoint()
    tr = forecast.train(feats)
    fc = forecast.forecast_7day(spark, feats, tr.model)
    ev = forecast.hindcast_eval(feats, tr.model)
    return tr, fc, ev


def register_views(spark: SparkSession, run: ModelRun) -> list[str]:
    """The thin SQL surface (SURVEY §1): every model of the DAG registered
    as a temp view so users query the warehouse with plain `spark.sql` —
    staging/intermediate views stay lazy (dbt view materialization), marts
    are whatever the caller materialized them as."""
    views = {
        "stg_taxi_trips": run.stg_trips,
        "stg_weather": run.stg_weather,
        "int_trips_enriched": run.enriched,
        "int_weather_hourly": run.weather_hourly,
        "mart_trips_weather": run.mart_trips_weather,
        "mart_daily_metrics": run.mart_daily_metrics,
        "mart_zone_analysis": run.mart_zone_analysis,
        "fare_daily_features": run.fare_daily_features,
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return list(views)


def persist_marts(run: ModelRun, base_path: str) -> None:
    """Materialize marts as the lake tables (dbt table materialization)."""
    from ..sources.sinks import write_partitioned_by_date

    write_partitioned_by_date(run.mart_trips_weather, f"{base_path}/mart_trips_weather", "hour_ts")
    run.mart_daily_metrics.write.mode("overwrite").parquet(
        f"{base_path}/mart_daily_metrics"
    )
    run.mart_zone_analysis.write.mode("overwrite").parquet(
        f"{base_path}/mart_zone_analysis"
    )
    run.fare_daily_features.write.mode("overwrite").parquet(
        f"{base_path}/fare_daily_features"
    )
