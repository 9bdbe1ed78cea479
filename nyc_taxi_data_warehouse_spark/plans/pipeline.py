"""Pipeline runner — the Airflow DAG wiring (SURVEY §3) as ~100 lines.

The reference orchestrates: hourly trips ingest (§3.1), daily dbt model DAG
(§3.2), snapshots, tests, and the forecasting chain (§3.3). Here the model
DAG is function composition (Spark's laziness = dbt views), and a model
that several stages read is materialized once, on its first read: dbt
materializes a mart as a table once and its tests, snapshots and the
forecast DAGs read that table. `run_models` grades source freshness and
runs the dbt test suite (one aggregate per tested table, one collect)
before returning; marts are persisted as date-partitioned parquet.
"""

from __future__ import annotations

import threading
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


@dataclass(eq=False)
class ModelRun:
    """All model outputs of one transformation run (the dbt DAG, §3.2).

    ``mart_trips_weather``, ``mart_daily_metrics`` and
    ``fare_daily_features`` have several consumers (the test suite,
    persisting, snapshots, the forecast chain), so each is materialized on
    its first read: that read runs one eager ``localCheckpoint`` of the
    model's plan, and every later read returns the same copy. ``fare_daily_features`` is built
    over the materialized ``mart_daily_metrics``. A per-run lock makes
    concurrent first reads share one checkpoint. ``plans`` holds the three
    lazy plans (``fare_daily_features`` over the lazy mart), which fire no
    job when only their schema or plan is needed. The other models stay
    lazy; ``enriched`` is cached.

    The copy is a checkpoint, not ``.cache()``: nothing unpersists a cache,
    and a cached plan over ``read.parquet(path)`` would answer a later run
    over the same path with the old rows. Nor is it
    ``localCheckpoint(eager=False)``: under AQE that still runs the plan's
    broadcasts and upstream shuffle stages when called."""

    stg_trips: DataFrame
    stg_weather: DataFrame
    enriched: DataFrame
    weather_hourly: DataFrame
    mart_zone_analysis: DataFrame
    daily_weather_forecast: DataFrame
    plans: dict[str, DataFrame]
    quality_results: list = field(default_factory=list)
    freshness_results: list = field(default_factory=list)
    _copies: dict[str, DataFrame] = field(default_factory=dict, init=False)
    _lock: threading.RLock = field(default_factory=threading.RLock, init=False)

    def _materialized(self, name: str) -> DataFrame:
        with self._lock:
            if name not in self._copies:
                plan = (
                    features.fare_daily_features(
                        self.mart_daily_metrics, self.daily_weather_forecast
                    )
                    if name == "fare_daily_features"
                    else self.plans[name]
                )
                self._copies[name] = plan.localCheckpoint()
            return self._copies[name]

    @property
    def mart_trips_weather(self) -> DataFrame:
        return self._materialized("mart_trips_weather")

    @property
    def mart_daily_metrics(self) -> DataFrame:
        return self._materialized("mart_daily_metrics")

    @property
    def fare_daily_features(self) -> DataFrame:
        return self._materialized("fare_daily_features")


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
    dbt's view-vs-table materialization decision. The marts and the feature
    table materialize on first read (see :class:`ModelRun`); with
    ``run_quality=False, run_freshness=False`` the call fires no Spark job.

    ``run_freshness=True`` prepends the `dbt source freshness` stage over
    the RAW sources (the reference runs it before transforms,
    `dags/dbt_transformation_dag.py:85-88`): with ``freshness_as_of=None``
    it grades source ages against the wall clock — the operational
    scheduled-run behavior — and a stale source lands in the returned
    ``freshness_results`` as 'warn'/'fail' rather than aborting the run
    (dbt semantics: freshness warns/errors are reported, models still
    build). ``run_quality=True`` runs the dbt test suite with one
    :func:`quality.run_checks` collect, one aggregate per tested table plus
    the grouped ``unique`` check. Like `dbt test` after `dbt run`, it tests
    the materialized marts, so it is their first reader and materializes
    ``mart_trips_weather`` and ``mart_daily_metrics``."""
    st = staging.stg_taxi_trips(trips)
    sw = staging.stg_weather(weather)
    enr = intermediate.int_trips_enriched(st).cache()
    wh = intermediate.int_weather_hourly(sw)
    mdm = marts.mart_daily_metrics(enr, wh)
    dwf = features.daily_weather_forecast(weather)
    plans = {
        "mart_trips_weather": marts.mart_trips_weather(enr, wh),
        "mart_daily_metrics": mdm,
        "fare_daily_features": features.fare_daily_features(mdm, dwf),
    }
    run = ModelRun(st, sw, enr, wh, marts.mart_zone_analysis(enr), dwf, plans)
    if run_freshness:
        raw = {"raw_taxi_trips": trips, "raw_weather": weather}
        run.freshness_results = quality.freshness_report(
            [(n, raw[n], ts, w, e) for n, ts, w, e in FRESHNESS_SLAS],
            as_of=freshness_as_of,
        ).collect()
    if run_quality:
        suite = quality.reference_check_suite(
            st, sw, run.mart_trips_weather, run.mart_daily_metrics
        )
        run.quality_results = quality.run_checks(suite)
    return run


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
    daily_key = ["trip_date"]
    daily_checks = [
        "trip_count",
        "total_revenue",
        "avg_fare",
        "avg_distance",
        "weekend_trip_count",
        "weekday_trip_count",
    ]
    snp_daily = scd.snapshot_check(
        prev_daily_snap,
        run.mart_daily_metrics.select(*daily_key, *daily_checks),
        key=daily_key,
        check_cols=daily_checks,
        as_of=as_of,
    )
    return snp_weather, snp_daily


def run_forecast_chain(spark: SparkSession, run: ModelRun):
    """The three forecasting DAGs (§3.3) end-to-end: train → 7-day recursive
    forecast → hindcast eval. Returns (TrainResult, forecast_df, eval_df).

    The reference DAGs load FARE_DAILY_FEATURES once and work on that copy;
    here all three stages read ``run.fare_daily_features``, the run's one
    materialized copy (made by whichever stage reads it first, e.g.
    :func:`persist_marts`).  Left lazy, every count, fit pass, collect and
    write would re-derive it from ``mart_daily_metrics`` plus a raw weather
    scan.  The outputs do not change: ``train``'s unpartitioned window
    sorts by ``trip_date``, so the forest fits the same rows in one
    partition either way."""
    from ..ml import forecast

    feats = run.fare_daily_features
    tr = forecast.train(feats)
    fc = forecast.forecast_7day(spark, feats, tr.model)
    ev = forecast.hindcast_eval(feats, tr.model)
    return tr, fc, ev


def register_views(spark: SparkSession, run: ModelRun) -> list[str]:
    """The thin SQL surface (SURVEY §1): every model of the DAG registered
    as a temp view so users query the warehouse with plain `spark.sql` —
    staging/intermediate views stay lazy (dbt view materialization); the
    multi-consumer marts and features register their materialized copies
    (registering them materializes any not yet read)."""
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
    # the mart is a join of two aggregates in no fixed order; sorting on
    # its key makes the same rows write the same bytes on every run
    run.mart_zone_analysis.sortWithinPartitions(
        "pickup_zone_id", "dropoff_zone_id"
    ).write.mode("overwrite").parquet(f"{base_path}/mart_zone_analysis")
    run.fare_daily_features.write.mode("overwrite").parquet(
        f"{base_path}/fare_daily_features"
    )
