"""SCD2 scenario tests (SURVEY §5c): new key / changed / unchanged /
hard-delete across two snapshot applications, for both dbt strategies."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators import scd

T0 = datetime(2024, 1, 1, 0, 0, 0)
T1 = datetime(2024, 1, 1, 1, 0, 0)
T2 = datetime(2024, 1, 2, 0, 0, 0)

WSCHEMA = "city string, observed_at timestamp, temp_f double, load_ts timestamp"


def _wrows(spark, rows):
    return spark.createDataFrame(rows, WSCHEMA)


def test_timestamp_snapshot_first_run(spark):
    src = _wrows(spark, [("NY", T0, 40.0, T0), ("BOS", T0, 35.0, T0)])
    snap = scd.snapshot_timestamp(None, src, ["city", "observed_at"], "load_ts")
    rows = snap.collect()
    assert len(rows) == 2
    assert all(r.dbt_valid_to is None for r in rows)
    assert all(r.dbt_valid_from == T0 for r in rows)
    assert len({r.dbt_scd_id for r in rows}) == 2


def test_timestamp_snapshot_change_unchanged_new_delete(spark):
    base = _wrows(spark, [("NY", T0, 40.0, T0), ("BOS", T0, 35.0, T0)])
    snap1 = scd.snapshot_timestamp(None, base, ["city", "observed_at"], "load_ts")
    # NY redelivered with newer load_ts + changed temp; BOS absent (hard
    # delete); PHL brand new.
    batch2 = _wrows(spark, [("NY", T0, 42.0, T1), ("PHL", T0, 30.0, T1)])
    snap2 = scd.snapshot_timestamp(
        snap1, batch2, ["city", "observed_at"], "load_ts",
        as_of=T2, invalidate_hard_deletes=True,
    )
    rows = {(r.city, r.dbt_valid_from): r for r in snap2.collect()}
    assert len(rows) == 4  # NY closed + NY new + BOS closed + PHL new
    ny_old = rows[("NY", T0)]
    assert ny_old.dbt_valid_to == T1 and ny_old.temp_f == 40.0
    ny_new = rows[("NY", T1)]
    assert ny_new.dbt_valid_to is None and ny_new.temp_f == 42.0
    bos = rows[("BOS", T0)]
    assert bos.dbt_valid_to == T2  # hard delete closed at as_of
    phl = rows[("PHL", T1)]
    assert phl.dbt_valid_to is None


def test_timestamp_snapshot_stale_redelivery_is_noop(spark):
    base = _wrows(spark, [("NY", T0, 40.0, T1)])
    snap1 = scd.snapshot_timestamp(None, base, ["city", "observed_at"], "load_ts")
    stale = _wrows(spark, [("NY", T0, 99.0, T0)])  # older load_ts
    snap2 = scd.snapshot_timestamp(snap1, stale, ["city", "observed_at"], "load_ts")
    rows = snap2.collect()
    assert len(rows) == 1 and rows[0].temp_f == 40.0 and rows[0].dbt_valid_to is None


DSCHEMA = "trip_date date, trip_count long, avg_fare double"


def test_check_snapshot_versions_on_value_change(spark):
    from datetime import date

    d1, d2 = date(2024, 1, 1), date(2024, 1, 2)
    b1 = spark.createDataFrame([(d1, 100, 25.0), (d2, 90, 24.0)], DSCHEMA)
    s1 = scd.snapshot_check(None, b1, ["trip_date"], ["trip_count", "avg_fare"], as_of=T0)
    # late-arriving data changes d1's totals; d2 unchanged
    b2 = spark.createDataFrame([(d1, 120, 26.0), (d2, 90, 24.0)], DSCHEMA)
    s2 = scd.snapshot_check(s1, b2, ["trip_date"], ["trip_count", "avg_fare"], as_of=T1)
    rows = sorted(s2.collect(), key=lambda r: (r.trip_date, r.dbt_valid_from))
    assert len(rows) == 3
    closed = [r for r in rows if r.dbt_valid_to is not None]
    assert len(closed) == 1 and closed[0].trip_date == d1 and closed[0].trip_count == 100
    current_d1 = [r for r in rows if r.trip_date == d1 and r.dbt_valid_to is None][0]
    assert current_d1.trip_count == 120 and current_d1.dbt_valid_from == T1
    current_d2 = [r for r in rows if r.trip_date == d2][0]
    assert current_d2.dbt_valid_to is None and current_d2.dbt_valid_from == T0


def test_check_snapshot_idempotent_on_unchanged_batch(spark):
    from datetime import date

    b = spark.createDataFrame([(date(2024, 1, 1), 100, 25.0)], DSCHEMA)
    s1 = scd.snapshot_check(None, b, ["trip_date"], ["trip_count", "avg_fare"], as_of=T0)
    s2 = scd.snapshot_check(s1, b, ["trip_date"], ["trip_count", "avg_fare"], as_of=T1)
    rows = s2.collect()
    assert len(rows) == 1 and rows[0].dbt_valid_from == T0


def test_timestamp_snapshot_keeps_null_updated_at_row_open(spark):
    # dbt compares `updated_at` with `>`, so a NULL never supersedes and
    # the row stays one open version; presence must not be read off the
    # NULL `updated_at` itself
    src = _wrows(spark, [("NY", T0, 40.0, T0), ("BOS", T0, 35.0, None)])
    key = ["city", "observed_at"]
    snap1 = scd.snapshot_timestamp(None, src, key, "load_ts")
    for hard_deletes in (False, True):
        snap2 = scd.snapshot_timestamp(
            snap1, src, key, "load_ts",
            as_of=T2, invalidate_hard_deletes=hard_deletes,
        )
        rows = sorted(snap2.collect(), key=lambda r: r.city)
        assert [(r.city, r.temp_f, r.load_ts, r.dbt_valid_to) for r in rows] == [
            ("BOS", 35.0, None, None),
            ("NY", 40.0, T0, None),
        ], hard_deletes


def test_check_snapshot_all_null_check_cols_stay_one_open_version(spark):
    from datetime import date

    d1 = date(2024, 1, 1)
    b = spark.createDataFrame([(d1, None, None)], DSCHEMA)
    checks = ["trip_count", "avg_fare"]
    s1 = scd.snapshot_check(None, b, ["trip_date"], checks, as_of=T0)
    s2 = scd.snapshot_check(s1, b, ["trip_date"], checks, as_of=T1)
    rows = s2.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.trip_date, r.trip_count, r.avg_fare) == (d1, None, None)
    assert r.dbt_valid_from == T0 and r.dbt_valid_to is None
