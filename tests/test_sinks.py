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


def test_atomic_overwrite_repairs_interrupted_swap_before_writing(spark, tmp_path):
    """A writer crashed between live->gc and stage->live. The next writer
    repairs the swap under its lock before staging its own image: a
    merge batch keeps the 9 committed rows instead of writing a new table
    from the batch alone, and a failing overwrite leaves the promoted
    image in place instead of no table at all."""
    import os

    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S
    from nyc_taxi_data_warehouse_spark.streaming.merge_sink import (
        foreach_batch_merge,
    )

    def crash_between_renames(path):
        spark.range(5).write.parquet(path)
        spark.range(9).write.parquet(path + S._STAGE_SUFFIX)  # complete stage
        os.rename(path, path + S._GC_SUFFIX)

    path = str(tmp_path / "fact")
    crash_between_renames(path)
    upsert = foreach_batch_merge(path, ["id"])
    upsert(spark.createDataFrame([(100,)], "id long"), 0)
    upsert(spark.createDataFrame([(101,)], "id long"), 1)
    assert _ids(spark, path) == list(range(9)) + [100, 101]
    assert S.recover_atomic_overwrite(path) == "noop"

    @F.udf("long")
    def boom(x):
        raise ValueError("injected mid-write failure")

    path2 = str(tmp_path / "fact2")
    crash_between_renames(path2)
    with pytest.raises(Exception):
        S.atomic_overwrite(spark.range(3).select(boom("id").alias("id")), path2)
    assert _ids(spark, path2) == list(range(9))


def test_merge_into_path_repairs_a_half_swapped_table(spark, tmp_path):
    """A crash between live->gc and stage->live leaves no live directory;
    the MERGE repairs the swap before reading the table, so it merges into
    the 9 committed stage rows instead of failing with PATH_NOT_FOUND."""
    import os

    from nyc_taxi_data_warehouse_spark.operators.merge import merge_into_path

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    spark.range(9).write.parquet(path + sinks._STAGE_SUFFIX)  # complete stage
    os.rename(path, path + sinks._GC_SUFFIX)
    merge_into_path(spark, path, spark.range(100, 101), ["id"])
    assert _ids(spark, path) == list(range(9)) + [100]
    assert not os.path.exists(path + sinks._GC_SUFFIX)


def test_merge_into_path_with_trailing_slash_swaps_beside_the_table(
    spark, tmp_path
):
    """``path + "/"`` names the same table: the swap's stage, gc and lock
    files are its siblings, and none is left inside the live directory."""
    import os

    from nyc_taxi_data_warehouse_spark.operators.merge import merge_into_path

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    merge_into_path(spark, path + "/", spark.range(3, 8), ["id"])
    assert _ids(spark, path) == list(range(8))
    assert not [n for n in os.listdir(path) if n.startswith(".__")]
    assert not os.path.exists(path + sinks._STAGE_SUFFIX)
    assert os.path.exists(path + sinks._LEASE_SUFFIX)


# --- writer lock (concurrent-writer safety) ---------------------------------

def test_racing_writers_one_fails_cleanly_no_data_lost(spark, tmp_path):
    """Two writers race the same table: the one that finds the lock held
    raises LeaseHeldError BEFORE touching anything — a rival thread of the
    same process included — and commits once the holder lets go."""
    import os
    import threading

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)

    outcome = []

    def rival():
        try:
            S.atomic_overwrite(spark.range(100).toDF("id"), path)
            outcome.append("committed")
        except S.LeaseHeldError:
            outcome.append("refused")

    with S.writer_lock(path):  # writer A, mid-swap
        t = threading.Thread(target=rival)
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
        # loser left no stage/gc litter and the table is untouched
        assert outcome == ["refused"]
        assert not os.path.exists(path + S._STAGE_SUFFIX)
        assert _ids(spark, path) == list(range(5))

    # the previously-blocked writer now succeeds
    S.atomic_overwrite(spark.range(3).toDF("id"), path)
    assert _ids(spark, path) == list(range(3))


def test_killed_holder_releases_lock_at_once(spark, tmp_path):
    """A writer process SIGKILLed while holding the lock never wedges the
    table: the kernel drops its lock with the process, so the next writer
    commits right after the kill, with no timeout to wait out."""
    import os
    import subprocess
    import sys

    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys\n"
            "from nyc_taxi_data_warehouse_spark.sources.sinks import writer_lock\n"
            "with writer_lock(sys.argv[1]):\n"
            "    print('locked', flush=True)\n"
            "    sys.stdin.read()\n",
            path,
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "locked"
        with pytest.raises(S.LeaseHeldError):
            S.atomic_overwrite(spark.range(7).toDF("id"), path)
        assert _ids(spark, path) == list(range(5))
    finally:
        holder.kill()
        holder.wait()
    S.atomic_overwrite(spark.range(7).toDF("id"), path)
    assert _ids(spark, path) == list(range(7))


def test_corrupt_empty_lease_file_is_taken_over_not_spun_on(tmp_path):
    """A lock file with any content — a leftover of the old lease-file
    protocol, or manual tampering — never wedges the table: only the
    kernel lock counts, and the file is kept after release."""
    import os

    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "t")
    with open(path + S._LEASE_SUFFIX, "w") as f:
        f.write('{"token": "garbage", "expires_at": 1e18')  # unparseable
    with S.writer_lock(path):  # must not spin
        with pytest.raises(S.LeaseHeldError):
            with S.writer_lock(path):
                pass
    assert os.path.exists(path + S._LEASE_SUFFIX)
    with S.writer_lock(path):  # free again
        pass


def test_recovery_refuses_while_writer_lease_live(spark, tmp_path):
    """recover_atomic_overwrite must not judge a LIVE writer's in-flight
    stage/gc images: it takes the same lock and raises while held."""
    import os

    import pytest

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "fact")
    spark.range(5).write.parquet(path)
    spark.range(9).write.parquet(path + S._STAGE_SUFFIX)
    os.rename(path, path + S._GC_SUFFIX)  # writer is mid-swap...
    with S.writer_lock(path):
        with pytest.raises(S.LeaseHeldError):
            S.recover_atomic_overwrite(path)
        assert os.path.exists(path + S._STAGE_SUFFIX)  # nothing judged
    assert S.recover_atomic_overwrite(path) == "promoted-stage"
    assert _ids(spark, path) == list(range(9))


def test_lease_takeover_single_winner_under_contention(tmp_path):
    """N threads race for one lock: at most one holds it at a time, and
    every writer eventually gets a turn (no lost wakeups, no double-holds)."""
    import sys
    import threading
    import time

    from nyc_taxi_data_warehouse_spark.sources import sinks as S

    path = str(tmp_path / "t")
    holders, active, peak = [], [0], [0]
    lock = threading.Lock()

    def contend(i):
        while True:
            try:
                with S.writer_lock(path):
                    with lock:
                        active[0] += 1
                        peak[0] = max(peak[0], active[0])
                        holders.append(i)
                    time.sleep(0.01)
                    with lock:
                        active[0] -= 1
                return
            except S.LeaseHeldError:
                time.sleep(0.01)

    threads = [threading.Thread(target=contend, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads as often as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert sorted(holders) == list(range(8))
    assert peak[0] == 1


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
