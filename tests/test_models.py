"""Model-DAG tests over NYC-shaped fixtures (FIXTURES.md §1-2): the dbt
declarative suite ported to assertions (SURVEY §5a) + pipeline wiring."""

from __future__ import annotations

from datetime import date, datetime, timedelta
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators import quality
from nyc_taxi_data_warehouse_spark.plans import (
    docs,
    features,
    intermediate,
    marts,
    nyc_views,
    pipeline,
    staging,
)


@pytest.fixture(scope="module")
def trips(spark, sf_dir):
    return nyc_views.trips_from_events(nyc_views.load_tables(spark, sf_dir)["events"])


@pytest.fixture(scope="module")
def weather(spark, sf_dir):
    return nyc_views.weather_from_events(
        nyc_views.load_tables(spark, sf_dir)["events"]
    )


def test_staging_filters_all_quality_predicates(spark, trips):
    stg = staging.stg_taxi_trips(trips)
    bad = stg.where(
        F.col("pickup_datetime").isNull()
        | F.col("dropoff_datetime").isNull()
        | F.col("pickup_zone_id").isNull()
        | F.col("dropoff_zone_id").isNull()
        | (F.col("trip_distance") <= 0)
        | (F.col("total_amount") <= 0)
        | (F.col("dropoff_datetime") <= F.col("pickup_datetime"))
    )
    assert bad.count() == 0
    assert stg.count() < trips.count()  # filters actually removed rows


def test_enriched_speed_guard_and_flags(spark, trips):
    enr = intermediate.int_trips_enriched(staging.stg_taxi_trips(trips))
    # no NULL/negative-speed artifacts
    assert enr.where(F.col("avg_speed_mph").isNull()).count() == 0
    assert enr.where((F.col("trip_duration_minutes") <= 0) & (F.col("avg_speed_mph") != 0)).count() == 0
    # anomaly flags fire both ways
    assert enr.where(F.col("is_trip_duration_anomaly")).count() > 0
    assert enr.where(~F.col("is_trip_duration_anomaly")).count() > 0
    # weekend flag consistent with day_of_week ∈ {0,6}
    assert (
        enr.where(F.col("is_weekend") != F.col("day_of_week").isin(0, 6)).count() == 0
    )


def test_weather_hourly_unique_per_hour_city(spark, weather):
    wh = intermediate.int_weather_hourly(staging.stg_weather(weather))
    dup = (
        wh.groupBy("observation_hour", "city")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    multi = wh.where(F.col("observation_count") > 1)
    assert multi.count() > 0  # fixture guarantees multi-observation hours


def test_mart_trips_weather_left_join_keeps_all_hours(spark, trips, weather):
    enr = intermediate.int_trips_enriched(staging.stg_taxi_trips(trips))
    wh = intermediate.int_weather_hourly(staging.stg_weather(weather))
    mart = marts.mart_trips_weather(enr, wh)
    n_hours = enr.select("pickup_hour").distinct().count()
    joined_hours = mart.select("hour_ts").distinct().count()
    assert joined_hours == n_hours  # LEFT join loses no trip hours
    assert mart.where(F.col("avg_temperature_fahrenheit").isNull()).count() > 0


def test_mart_daily_conditional_counts_sum_to_total(spark, trips, weather):
    enr = intermediate.int_trips_enriched(staging.stg_taxi_trips(trips))
    wh = intermediate.int_weather_hourly(staging.stg_weather(weather))
    daily = marts.mart_daily_metrics(enr, wh)
    bad = daily.where(
        F.col("weekend_trip_count") + F.col("weekday_trip_count") != F.col("trip_count")
    )
    assert bad.count() == 0


def test_zone_analysis_having_floor(spark, trips):
    enr = intermediate.int_trips_enriched(staging.stg_taxi_trips(trips))
    mza = marts.mart_zone_analysis(enr)
    assert mza.where(F.col("trip_count") < 10).count() == 0
    assert mza.where(~F.col("peak_hour").between(0, 23)).count() == 0


def test_persisted_zone_mart_part_files_are_in_key_order(
    spark, trips, weather, tmp_path
):
    """`persist_marts` sorts `mart_zone_analysis` on its key inside each
    part file, so a run's bytes do not depend on the order its last stage
    emits the rows in. The sf0.001 mart is empty (no zone pair reaches 10
    trips), so the mart here is its schema over 20 rows in descending key
    order."""
    import glob

    import pyarrow.parquet as pq

    run = pipeline.run_models(trips, weather, run_quality=False, run_freshness=False)
    schema = run.mart_zone_analysis.schema
    rows = [
        tuple(float(z) if f.dataType.typeName() == "double" else z for f in schema)
        for z in range(20, 0, -1)
    ]
    zone = spark.createDataFrame(rows, schema).coalesce(1)
    pipeline.persist_marts(
        SimpleNamespace(
            mart_trips_weather=run.mart_trips_weather,
            mart_daily_metrics=run.mart_daily_metrics,
            mart_zone_analysis=zone,
            fare_daily_features=run.fare_daily_features,
        ),
        str(tmp_path),
    )
    parts = glob.glob(str(tmp_path / "mart_zone_analysis" / "part-*.parquet"))
    assert len(parts) == 1
    t = pq.read_table(parts[0], columns=["pickup_zone_id", "dropoff_zone_id"])
    keys = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    assert keys == [(z, z) for z in range(1, 21)]


def test_pipeline_run_models_quality_green(spark, trips, weather):
    run = pipeline.run_models(trips, weather, run_quality=True)
    failing = [r for r in run.quality_results if r.status == "fail"]
    assert failing == [], f"quality failures: {failing}"
    assert run.fare_daily_features.count() > 0


def test_pipeline_freshness_wall_clock_trips_sla_on_stale_sources(
    spark, trips, weather
):
    """The dbt-source-freshness operational mode: run_models grades source
    ages against the wall clock by default. The historical fixtures are
    years old, so both sources must trip their warn/error thresholds —
    and the models still build (freshness reports, it doesn't abort)."""
    run = pipeline.run_models(trips, weather, run_quality=False)
    got = {r.source: r for r in run.freshness_results}
    assert set(got) == {"raw_taxi_trips", "raw_weather"}
    for r in got.values():
        assert r.status in {"warn", "fail"}
        assert r.age_hours > 48  # fixtures are far past every SLA
    assert got["raw_weather"].status == "fail"  # 4h error threshold
    assert run.mart_daily_metrics.count() > 0  # build proceeded

    # a pinned as_of at the newest observation makes that source fresh again
    newest = weather.agg(F.max("observed_at")).collect()[0][0]
    pinned = pipeline.run_models(
        trips,
        weather,
        run_quality=False,
        freshness_as_of=str(newest),
    )
    pinned_got = {r.source: r for r in pinned.freshness_results}
    assert pinned_got["raw_weather"].status == "pass"

    # and opting out skips the stage entirely
    off = pipeline.run_models(trips, weather, run_quality=False, run_freshness=False)
    assert off.freshness_results == []


def test_ingest_trips_merge_idempotent(spark, trips):
    first = pipeline.ingest_trips(trips, None)
    merged = pipeline.ingest_trips(trips, first)
    assert merged.count() == first.count()  # re-ingesting same month adds 0


def test_fare_daily_features_window_semantics(spark, trips, weather):
    run = pipeline.run_models(trips, weather, run_quality=False)
    rows = sorted(run.fare_daily_features.collect(), key=lambda r: r.trip_date)
    for i, r in enumerate(rows):
        if i >= 1:
            assert r.avg_fare_lag1 == pytest.approx(rows[i - 1].avg_fare)
        else:
            assert r.avg_fare_lag1 is None
        if i >= 7:
            assert r.avg_fare_lag7 == pytest.approx(rows[i - 7].avg_fare)
        lo = max(0, i - 6)
        expect_ma = sum(x.avg_fare for x in rows[lo : i + 1]) / (i + 1 - lo)
        assert r.avg_fare_ma7 == pytest.approx(expect_ma)


def test_pipeline_snapshots_and_forecast_chain(spark, trips, weather):
    from datetime import datetime

    from pyspark.sql import functions as F2

    run = pipeline.run_models(trips, weather, run_quality=False)
    w1, d1 = pipeline.run_snapshots(run, None, None, datetime(2026, 1, 1))
    # first run: everything open
    assert w1.where(F2.col("dbt_valid_to").isNotNull()).count() == 0
    # second run with identical sources: nothing closes, nothing inserts
    w2, d2 = pipeline.run_snapshots(run, w1, d1, datetime(2026, 1, 2))
    assert w2.count() == w1.count()
    assert d2.count() == d1.count()
    assert d2.where(F2.col("dbt_valid_to").isNotNull()).count() == 0

    tr, fc, ev = pipeline.run_forecast_chain(spark, run)
    assert fc.count() == 7
    assert ev.where(F2.col("row_type") == "summary").count() == 1
    assert tr.mae >= 0.0


def _lazy_dag(trips, weather):
    """The model DAG rebuilt from `staging`/`intermediate`/`marts`/`features`
    with every frame lazy: the stand-in for a `ModelRun` that the snapshot
    and forecast stages read, without `run_models`' materialization."""
    st = staging.stg_taxi_trips(trips)
    sw = staging.stg_weather(weather)
    enr = intermediate.int_trips_enriched(st)
    wh = intermediate.int_weather_hourly(sw)
    mdm = marts.mart_daily_metrics(enr, wh)
    return SimpleNamespace(
        stg_weather=sw,
        mart_trips_weather=marts.mart_trips_weather(enr, wh),
        mart_daily_metrics=mdm,
        mart_zone_analysis=marts.mart_zone_analysis(enr),
        fare_daily_features=features.fare_daily_features(
            mdm, features.daily_weather_forecast(weather)
        ),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_forecast_chain_on_materialized_features_matches_lazy(spark, trips, weather):
    """`run_forecast_chain` trains, forecasts and hindcasts on the run's
    materialized feature table; the chain over the lazy DAG rebuilt from
    `marts`/`features` returns exactly the same numbers."""
    run = pipeline.run_models(trips, weather, run_quality=False)
    tr, fc, ev = pipeline.run_forecast_chain(spark, run)
    tr_lazy, fc_lazy, ev_lazy = pipeline.run_forecast_chain(
        spark, _lazy_dag(trips, weather)
    )
    assert (tr.mae, tr.n_train, tr.n_test) == (
        tr_lazy.mae,
        tr_lazy.n_train,
        tr_lazy.n_test,
    )
    assert _rows(fc) == _rows(fc_lazy) and len(_rows(fc)) == 7
    assert _rows(ev) == _rows(ev_lazy) and len(_rows(ev)) == 8


def test_materialized_run_matches_lazy_dag(spark, trips, weather):
    """The materialized copies change no result: every mart, the feature
    table, the freshness report and both snapshots over two successive runs (the first on half the
    trips and weather, so the second closes and inserts rows) equal the
    lazy DAG's. The forecast chain's equality is the test above."""
    as_of = "2024-01-01 00:00:00"

    def runs(t, w):
        run = pipeline.run_models(t, w, run_quality=False, freshness_as_of=as_of)
        return run, _lazy_dag(t, w)

    half = (
        trips.where(F.minute("pickup_datetime") % 2 == 0),
        weather.where(F.minute("observed_at") % 2 == 0),
    )
    first, first_lazy = runs(*half)
    run, lazy = runs(trips, weather)
    for name in (
        "mart_trips_weather",
        "mart_daily_metrics",
        "mart_zone_analysis",
        "fare_daily_features",
    ):
        assert _rows(getattr(run, name)) == _rows(getattr(lazy, name)), name
    # (at sf0.001 no zone pair reaches mart_zone_analysis' 10-trip floor)
    assert _rows(run.mart_trips_weather) and _rows(run.fare_daily_features)
    assert run.freshness_results == quality.freshness_report(
        [
            ("raw_taxi_trips", trips, "pickup_datetime", 24, 48),
            ("raw_weather", weather, "observed_at", 2, 4),
        ],
        as_of=as_of,
    ).collect()

    prev = pipeline.run_snapshots(first, None, None, datetime(2026, 1, 1))
    prev_lazy = pipeline.run_snapshots(first_lazy, None, None, datetime(2026, 1, 1))
    snaps = pipeline.run_snapshots(run, *prev, datetime(2026, 1, 2))
    snaps_lazy = pipeline.run_snapshots(lazy, *prev_lazy, datetime(2026, 1, 2))
    for got, want in zip(prev + snaps, prev_lazy + snaps_lazy):
        assert _rows(got) == _rows(want)
    closed = snaps[1].where(F.col("dbt_valid_to").isNotNull())
    assert closed.count() > 0  # the second run changed daily metrics


def test_concurrent_first_reads_share_one_copy(trips, weather):
    """Eight threads reading a fresh run's `mart_daily_metrics` at once
    (with a short switch interval) all get the one copy: the first read
    checkpoints under the run's lock and no thread checkpoints again."""
    import sys
    import threading

    run = pipeline.run_models(trips, weather, run_quality=False, run_freshness=False)
    got = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: got.append(run.mart_daily_metrics))
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 8
    assert all(df is run.mart_daily_metrics for df in got)


def test_fused_quality_runner_matches_per_check_counts(spark):
    """`run_checks` evaluates the whole reference suite in one collect:
    one aggregate per table plus the grouped `unique` check. On dirty
    input (nulls, out-of-range values, a duplicate `trip_date`, and 1500
    violations of one check) its results equal a per-check
    `limit(1001).count()`, names, order and the 1001 cap included."""
    ids = spark.range(1500)
    stg_trips = ids.select(
        F.when(F.col("id") % 7 != 0, F.timestamp_seconds(F.col("id") * 60)).alias(
            "pickup_datetime"
        ),
        F.when(F.col("id") % 11 != 0, F.timestamp_seconds(F.col("id") * 60 + 600)).alias(
            "dropoff_datetime"
        ),
        (F.col("id") % 50).alias("pickup_zone_id"),
        F.when(F.col("id") % 13 != 0, F.col("id") % 40).alias("dropoff_zone_id"),
        F.lit(-1.0).alias("trip_distance"),
        F.when(F.col("id") % 5 != 0, (F.col("id") % 3 - 1).cast("double")).alias(
            "total_amount"
        ),
    )
    ts = datetime(2024, 1, 1, 10)
    stg_weather = spark.createDataFrame(
        [(ts, 50.0, 40.0), (None, 60.0, 50.0), (ts, None, 50.0), (ts, 200.0, -5.0)],
        "observed_at timestamp, temperature_fahrenheit double, humidity_percent double",
    )
    mart_trips_weather = spark.createDataFrame([(ts,), (None,)], "hour_ts timestamp")
    mart_daily = spark.createDataFrame(
        [(date(2024, 1, 1),), (date(2024, 1, 1),), (date(2024, 1, 2),), (None,)],
        "trip_date date",
    )
    suite = quality.reference_check_suite(
        stg_trips, stg_weather, mart_trips_weather, mart_daily
    )
    want = []
    for name, check in suite.items():
        rows = check.violations() if isinstance(check, quality.RowCheck) else check
        n = rows.limit(1001).count()
        want.append(quality.CheckResult(name, "pass" if n == 0 else "fail", n))
    got = quality.run_checks(suite)
    assert got == want
    got_by_name = {r.name: r for r in got}
    assert got_by_name["stg_trips.distance_range"].violations == 1001
    assert got_by_name["stg_trips.pickup_zone_not_null"].status == "pass"
    assert got_by_name["mart_daily.trip_date_unique"].violations == 1


def test_lazy_model_run_and_its_docs_fire_no_job(trips, weather, jobs_in):
    """Without its freshness and quality stages a model run fires no job,
    and documenting it reads the lazy plans' schemas: nothing
    materializes until a consumer reads a model."""
    box = []
    assert (
        jobs_in(
            lambda: box.append(
                pipeline.run_models(
                    trips, weather, run_quality=False, run_freshness=False
                )
            )
        )
        == 0
    )
    assert jobs_in(lambda: docs.generate_manifest(box[0])) == 0


def test_refresh_dag_fires_a_pinned_job_count(
    spark, trips, weather, tmp_path, jobs_in
):
    """The whole refresh DAG at sf0.001, with the enriched-trips cache
    filled outside the count: `run_models` with freshness and quality,
    `persist_marts`, `run_snapshots` collected, and the forecast chain
    with its frames collected fire 52 jobs (84 when every consumer
    re-derived the marts and the suite ran one job per check)."""
    intermediate.int_trips_enriched(staging.stg_taxi_trips(trips)).cache().count()

    def refresh():
        run = pipeline.run_models(
            trips, weather, freshness_as_of="2024-01-01 00:00:00"
        )
        pipeline.persist_marts(run, str(tmp_path / "marts"))
        for snap in pipeline.run_snapshots(run, None, None, datetime(2026, 1, 1)):
            snap.collect()
        _tr, fc, ev = pipeline.run_forecast_chain(spark, run)
        fc.collect()
        ev.collect()

    assert jobs_in(refresh) == 52


def test_sql_surface_over_registered_views(spark, trips, weather):
    run = pipeline.run_models(trips, weather, run_quality=False)
    names = pipeline.register_views(spark, run)
    assert "mart_daily_metrics" in names
    out = spark.sql(
        """
        SELECT d.trip_date, d.trip_count, f.avg_fare_ma7
        FROM mart_daily_metrics d
        JOIN fare_daily_features f USING (trip_date)
        WHERE d.trip_count > 0
        ORDER BY d.trip_date
        """
    )
    rows = out.collect()
    assert len(rows) > 0
    assert rows == sorted(rows, key=lambda r: r.trip_date)


def test_docs_manifest_lineage_and_schemas(spark, trips, weather, tmp_path):
    """dbt-docs parity artifact: every ModelRun output is documented with
    its live schema; edges form a DAG whose topo order places every model
    after its upstreams; files land on disk."""
    import json

    run = pipeline.run_models(trips, weather, run_quality=False)
    manifest = docs.generate_manifest(run)

    documented = {m for m, e in manifest["models"].items() if "columns" in e}
    assert documented == set(docs._RUN_ATTRS)
    assert [c["name"] for c in manifest["models"]["mart_daily_metrics"]["columns"]] == (
        run.mart_daily_metrics.columns
    )

    order = docs.topo_order()
    pos = {m: i for i, m in enumerate(order)}
    for up, down in manifest["edges"]:
        assert pos[up] < pos[down], (up, down)

    jpath, mpath = docs.write_docs(run, str(tmp_path / "docs"))
    assert json.load(open(jpath)) == manifest
    md = open(mpath).read()
    assert "## mart_trips_weather  `mart`" in md and "| hour_ts |" in md


def test_load_tables_nanos_events_match_micros(spark, sf_dir, tmp_path):
    """The TIMESTAMP(NANOS) branch of load_tables: the shipped sf dirs store
    events.ts as MICROS, so a copy with ns timestamps (pyarrow format 2.6
    keeps ns) must read back to the same ts values as the original."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in nyc_views.TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev["ts"].cast(pa.timestamp("ns")))
    os.remove(tmp_path / "events.parquet")
    pq.write_table(ev, tmp_path / "events.parquet", version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")

    def ts_rows(d):
        e = nyc_views.load_tables(spark, str(d))["events"]
        return sorted(e.select("event_id", F.col("ts").cast("string")).collect())

    assert spark.read.parquet(str(tmp_path / "events.parquet")).dtypes[1] == ("ts", "bigint")
    assert ts_rows(tmp_path) == ts_rows(sf_dir)
