"""Lake-layout tests: date-partitioned writes actually partition-prune."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.plans import nyc_views
from nyc_taxi_data_warehouse_spark.sources import sinks


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    trips = nyc_views.trips_from_events(
        nyc_views.load_tables(spark, sf_dir)["events"]
    ).na.drop(subset=["pickup_datetime"])
    path = str(tmp_path / "fact_trips")
    sinks.write_partitioned_by_date(trips, path, "pickup_datetime")

    back = spark.read.parquet(path)
    n_dates = back.select("p_date").distinct().count()
    assert n_dates > 1  # layout actually split by date

    one_day = back.select(F.min("p_date")).collect()[0][0]
    pruned = back.where(F.col("p_date") == one_day)
    # the date predicate lands in PartitionFilters (directory pruning), NOT
    # as a data filter over all files
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and str(one_day) in pf[0]
    assert pruned.count() == back.where(F.col("p_date") == one_day).count() > 0

    # roundtrip preserves rows
    assert back.count() == trips.count()


def test_incremental_refresh_touches_only_its_partitions(
    spark, sf_dir, tmp_path, monkeypatch
):
    import os

    from pyspark.sql.conf import RuntimeConfig

    trips = nyc_views.trips_from_events(
        nyc_views.load_tables(spark, sf_dir)["events"]
    ).na.drop(subset=["pickup_datetime"])
    path = str(tmp_path / "mart_inc")
    sinks.write_partitioned_by_date(trips, path, "pickup_datetime")

    dates = sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("p_date=")
    )
    target, untouched = dates[0], dates[-1]

    def listing(day):
        p = f"{path}/p_date={day}"
        return {(f, os.path.getmtime(f"{p}/{f}")) for f in os.listdir(p)}

    before_untouched = listing(untouched)
    n_before = spark.read.parquet(path).where(F.col("p_date") == target).count()

    # refresh ONE day with a modified slice (late-arriving data: drop half)
    one_day = trips.where(
        F.to_date("pickup_datetime") == target
    ).where(F.col("passenger_count").isNull() | (F.col("passenger_count") % 2 == 0))
    # the dynamic mode is a per-write option: the session conf, which
    # concurrent writers share, is never set
    set_keys = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        set_keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    sinks.overwrite_date_partitions(one_day, path, "pickup_datetime")
    monkeypatch.undo()
    assert "spark.sql.sources.partitionOverwriteMode" not in set_keys

    back = spark.read.parquet(path)
    assert listing(untouched) == before_untouched  # other partitions intact
    n_after = back.where(F.col("p_date") == target).count()
    assert 0 < n_after < n_before  # target partition actually replaced


def test_compaction_reduces_file_count_and_preserves_rows(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000)
    path = str(tmp_path / "many_small")
    # simulate hourly small-file appends
    for i in range(8):
        li.where(F.col("l_orderkey") % 8 == i).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    n_before = len(spark.read.parquet(path).inputFiles())
    rows_before = spark.read.parquet(path).count()
    assert n_before >= 8

    n_after = sinks.compact(spark, path, target_files=2)
    assert n_after <= 2
    assert spark.read.parquet(path).count() == rows_before


def test_schema_evolution_merge_read(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)

    merged = sinks.read_with_schema_evolution(spark, path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5  # old files NULL-fill new col


# --- atomic overwrite (MERGE-parity transactional swap) ---------------------

def _ids(spark, path):
    return sorted(r.id for r in spark.read.parquet(path).collect())


def test_atomic_overwrite_merges_in_place(spark, tmp_path):
    """Read-merge-overwrite of the SAME path: plain mode('overwrite') cannot
    read its own output path; the staged swap can."""
    from nyc_taxi_data_warehouse_spark.operators.merge import merge_into_path

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    staging = spark.range(3, 8).toDF("id")
    merge_into_path(spark, path, staging, ["id"])
    assert _ids(spark, path) == list(range(8))
    # idempotent: re-merging the same batch inserts nothing
    merge_into_path(spark, path, staging, ["id"])
    assert _ids(spark, path) == list(range(8))


def test_atomic_overwrite_failure_leaves_table_intact(spark, tmp_path):
    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)

    @F.udf("long")
    def boom(x):
        raise ValueError("injected mid-write failure")

    bad = spark.range(10).select(boom("id").alias("id"))
    with pytest.raises(Exception):
        S.atomic_overwrite(bad, path)
    # live table untouched and fully readable; no stage/gc litter
    assert _ids(spark, path) == list(range(5))
    import os
    assert not os.path.exists(path + S._STAGE_SUFFIX)
    assert not os.path.exists(path + S._GC_SUFFIX)


def test_atomic_overwrite_crash_between_renames_recovers(spark, tmp_path):
    """Simulate a crash after live->gc but before stage->live: recovery
    promotes the complete stage image (the committed new state)."""
    import os

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    spark.range(9).write.parquet(path + S._STAGE_SUFFIX)  # complete stage
    os.rename(path, path + S._GC_SUFFIX)                  # crash point
    assert S.recover_atomic_overwrite(path) == "promoted-stage"
    assert _ids(spark, path) == list(range(9))

    # incomplete stage (no _SUCCESS): recovery restores the old image
    path2 = str(tmp_path / "fact2")
    spark.range(4).write.parquet(path2)
    spark.range(9).write.parquet(path2 + S._STAGE_SUFFIX)
    os.remove(path2 + S._STAGE_SUFFIX + "/_SUCCESS")
    os.rename(path2, path2 + S._GC_SUFFIX)
    assert S.recover_atomic_overwrite(path2) == "restored-old"
    assert _ids(spark, path2) == list(range(4))


# --- writer lease (concurrent-writer safety) --------------------------------

def test_racing_writers_one_fails_cleanly_no_data_lost(spark, tmp_path):
    """Two writers race the same table: exactly one commits, the loser
    raises LeaseHeldError BEFORE touching anything, and the final table is
    exactly the winner's image (no interleaved-rename data loss)."""
    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)

    # writer A holds the lease (simulating an in-flight stage write)
    a = S.WriterLease(path, owner="writer-a").acquire()
    with pytest.raises(S.LeaseHeldError):
        S.atomic_overwrite(spark.range(100).toDF("id"), path)
    # loser left no stage/gc litter and the table is untouched
    import os
    assert not os.path.exists(path + S._STAGE_SUFFIX)
    assert _ids(spark, path) == list(range(5))

    # writer A commits under its lease and releases
    S.atomic_overwrite(spark.range(9).toDF("id"), path, lease_ttl=None)
    a.release()
    assert not os.path.exists(path + S._LEASE_SUFFIX)

    # the previously-blocked writer now succeeds
    S.atomic_overwrite(spark.range(3).toDF("id"), path)
    assert _ids(spark, path) == list(range(3))


def test_stale_lease_takeover_after_crash(spark, tmp_path):
    """A writer that died holding the lease (crash-injection: lock file
    left behind, expired TTL) must not wedge the table forever: the next
    writer takes the lease over and commits."""
    import time

    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    dead = S.WriterLease(path, owner="crashed", ttl_seconds=0.2).acquire()
    # lease still live: writer blocked
    with pytest.raises(S.LeaseHeldError):
        S.atomic_overwrite(spark.range(7).toDF("id"), path)
    time.sleep(0.3)  # TTL expires; 'dead' never releases
    S.atomic_overwrite(spark.range(7).toDF("id"), path)
    assert _ids(spark, path) == list(range(7))
    # the dead writer's release must NOT remove the new holder's lease
    live = S.WriterLease(path, owner="writer-b").acquire()
    dead.release()
    assert S.WriterLease(path)._read()["token"] == live.token
    live.release()


def test_corrupt_empty_lease_file_is_taken_over_not_spun_on(tmp_path):
    """A zero-byte/garbage lease file (crashed writer under the OLD
    non-atomic protocol, or manual tampering) must not wedge acquisition:
    it is treated as expired and broken via the serialized takeover."""
    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "t")
    with open(path + S._LEASE_SUFFIX, "w") as f:
        f.write("")  # present but unparseable
    lease = S.WriterLease(path, owner="w").acquire()  # must not spin
    assert S.WriterLease(path)._read()["token"] == lease.token
    lease.release()
    import os
    assert not os.path.exists(path + S._LEASE_SUFFIX)


def test_recovery_refuses_while_writer_lease_live(spark, tmp_path):
    """recover_atomic_overwrite must not judge a LIVE writer's in-flight
    stage/gc images: it takes the same lease and raises while held."""
    import os

    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    spark.range(9).write.parquet(path + S._STAGE_SUFFIX)
    os.rename(path, path + S._GC_SUFFIX)  # writer is mid-swap...
    holder = S.WriterLease(path, owner="live-writer").acquire()
    with pytest.raises(S.LeaseHeldError):
        S.recover_atomic_overwrite(path)
    holder.release()
    assert S.recover_atomic_overwrite(path) == "promoted-stage"
    assert _ids(spark, path) == list(range(9))


def test_lease_takeover_single_winner_under_contention(tmp_path):
    """N threads race to break one stale lease: exactly one acquires at a
    time, and every writer eventually gets a turn (no lost wakeups, no
    double-holds)."""
    import threading
    import time

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "t")
    S.WriterLease(path, owner="stale", ttl_seconds=0.0).acquire()  # dead

    holders = []
    lock = threading.Lock()

    def contend(i):
        while True:
            try:
                lease = S.WriterLease(path, owner=f"w{i}", ttl_seconds=30).acquire()
                break
            except S.LeaseHeldError:
                time.sleep(0.01)
        with lock:
            holders.append(i)
        time.sleep(0.01)
        lease.release()

    threads = [threading.Thread(target=contend, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert sorted(holders) == list(range(8))


def test_schema_evolution_read_unions_old_and_new_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.sources.sinks import (
        append,
        read_with_schema_evolution,
    )

    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v1.write.mode("overwrite").parquet(path)
    # schema evolves: a quality column is added to new files only
    v2 = spark.createDataFrame(
        [(3, "c", 0.9)], "id long, name string, quality double"
    )
    append(v2, path)

    got = read_with_schema_evolution(spark, path)
    assert set(got.columns) == {"id", "name", "quality"}
    rows = {r.id: (r.name, r.quality) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.9)}
    # plain read of a single old file must NOT see the new column
    n_null = got.where(F.col("quality").isNull()).count()
    assert n_null == 2


# --- lease renew / heartbeat (usurpation detection) --------------------------

def test_lease_renew_extends_ttl_and_detects_usurpation(tmp_path):
    """renew() pushes expires_at out while the lease is ours, and raises
    LeaseHeldError once the lease carries someone else's token."""
    import time

    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "t")
    a = S.WriterLease(path, owner="a", ttl_seconds=0.4).acquire()
    time.sleep(0.25)
    a.renew()  # still ours: extends
    time.sleep(0.25)  # 0.5s since acquire — past the ORIGINAL expiry
    with pytest.raises(S.LeaseHeldError):
        S.WriterLease(path, owner="b", ttl_seconds=0.4).acquire()

    time.sleep(0.5)  # now the renewed TTL lapses too
    b = S.WriterLease(path, owner="b", ttl_seconds=30).acquire()  # takeover
    with pytest.raises(S.LeaseHeldError):
        a.renew()  # usurped: must refuse, and must NOT touch b's lease
    assert S.WriterLease(path)._read()["token"] == b.token
    a.release()  # no-op on b's lease either
    assert S.WriterLease(path)._read()["token"] == b.token
    b.release()


def test_atomic_overwrite_aborts_if_lease_stolen_mid_write(spark, tmp_path):
    """The pre-rename re-verify: if the lease stops being ours during the
    stage write (here: forcibly stolen), atomic_overwrite must raise
    LeaseHeldError and leave the live table untouched — never interleave
    its renames with the new holder's."""
    import os
    import threading
    import time

    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)

    def steal():
        time.sleep(1.0)  # mid-stage-write
        os.unlink(path + S._LEASE_SUFFIX)  # simulate operator tampering
        S.WriterLease(path, owner="rival", ttl_seconds=600).acquire()

    @F.udf("long")
    def slow(x):
        time.sleep(3.0)
        return x

    thief = threading.Thread(target=steal)
    thief.start()
    with pytest.raises(S.LeaseHeldError):
        S.atomic_overwrite(
            spark.range(3).select(slow("id").alias("id")), path, lease_ttl=600.0
        )
    thief.join()
    assert _ids(spark, path) == list(range(5))  # live table untouched


def test_heartbeat_keeps_slow_write_alive_past_ttl(spark, tmp_path):
    """A stage write LONGER than the lease TTL: the heartbeat renews the
    lease, so a rival probing after the original TTL stays blocked and the
    slow writer commits — the silent-takeover window is closed."""
    import threading
    import time

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    rival_outcome = []

    def rival():
        time.sleep(1.5)  # well past the 1.0s TTL, write still running
        try:
            S.WriterLease(path, owner="rival", ttl_seconds=30).acquire()
            rival_outcome.append("acquired")
        except S.LeaseHeldError:
            rival_outcome.append("blocked")

    @F.udf("long")
    def slow(x):
        time.sleep(3.0)
        return x

    t = threading.Thread(target=rival)
    t.start()
    S.atomic_overwrite(
        spark.range(9).select(slow("id").alias("id")), path, lease_ttl=1.0
    )
    t.join()
    assert rival_outcome == ["blocked"]
    assert _ids(spark, path) == list(range(9))


def test_breaker_unlink_spares_rival_after_expiry_takeover(tmp_path):
    """If the breaker holder stalls past the breaker TTL and a rival breaks
    and re-creates it, the stalled holder's cleanup must NOT unlink the
    rival's live breaker (token-guarded unlink)."""
    import json
    import os
    import time

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "t")
    lease = S.WriterLease(path, owner="w")
    breaker = lease.lock_path + ".breaker"

    def stall_and_get_replaced():
        # simulate: our breaker expired and a rival replaced it while we ran
        os.unlink(breaker)
        with open(breaker, "w") as f:
            json.dump(
                {"owner": "rival", "token": "rival-token",
                 "expires_at": time.time() + 30.0},
                f,
            )

    lease._with_breaker(stall_and_get_replaced)
    with open(breaker) as f:
        assert json.load(f)["token"] == "rival-token"  # rival survived
    os.unlink(breaker)
