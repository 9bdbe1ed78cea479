"""Delta-table log-replay reader: hand-constructed tables following the
public Delta transaction protocol (commit JSON actions, checkpoint
parquet, partition-dir layout)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.sources import delta_read as D


def _write_data(table, relpath, ids):
    p = os.path.join(table, relpath)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(ids, type=pa.int64())}), p)


def _commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


_META = {
    "metaData": {
        "id": "t",
        "format": {"provider": "parquet"},
        "schemaString": "{}",
        "partitionColumns": [],
    }
}
_PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _basic_table(tmp_path):
    t = str(tmp_path / "dtable")
    _write_data(t, "f1.parquet", [1, 2])
    _write_data(t, "f2.parquet", [3])
    _write_data(t, "f3.parquet", [4, 5])
    _commit(t, 0, [_PROTO, _META,
                   {"add": {"path": "f1.parquet", "partitionValues": {},
                            "size": 1, "modificationTime": 0, "dataChange": True}},
                   {"add": {"path": "f2.parquet", "partitionValues": {},
                            "size": 1, "modificationTime": 0, "dataChange": True}}])
    _commit(t, 1, [{"remove": {"path": "f1.parquet", "dataChange": True}},
                   {"add": {"path": "f3.parquet", "partitionValues": {},
                            "size": 1, "modificationTime": 0, "dataChange": True}}])
    return t


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_delta_snapshot_replay_and_time_travel(spark, tmp_path):
    t = _basic_table(tmp_path)
    assert D.is_delta_table(t)
    assert D.latest_delta_version(t) == 1
    assert _ids(D.read_delta(spark, t)) == [3, 4, 5]          # head: -f1 +f3
    assert _ids(D.read_delta(spark, t, version=0)) == [1, 2, 3]  # time travel
    with pytest.raises(FileNotFoundError):
        D.read_delta(spark, t, version=7)
    with pytest.raises(FileNotFoundError):
        D.read_delta(spark, str(tmp_path / "not_delta"))


def test_delta_partition_recovery(spark, tmp_path):
    t = str(tmp_path / "ptable")
    _write_data(t, "p=a/f1.parquet", [1])
    _write_data(t, "p=b/f2.parquet", [2])
    _commit(t, 0, [_PROTO, _META,
                   {"add": {"path": "p=a/f1.parquet", "partitionValues": {"p": "a"},
                            "size": 1, "modificationTime": 0, "dataChange": True}},
                   {"add": {"path": "p=b/f2.parquet", "partitionValues": {"p": "b"},
                            "size": 1, "modificationTime": 0, "dataChange": True}}])
    got = {(r.id, r.p) for r in D.read_delta(spark, t).collect()}
    assert got == {(1, "a"), (2, "b")}  # basePath recovered the partition col


def test_delta_checkpoint_replay(spark, tmp_path):
    t = _basic_table(tmp_path)
    # checkpoint at v1 holds the ACCUMULATED state: f2 + f3 live
    cp = spark.createDataFrame(
        [({"path": "f2.parquet"}, None), ({"path": "f3.parquet"}, None)],
        "add struct<path:string>, remove struct<path:string>",
    )
    cpdir = str(tmp_path / "cp_stage")
    cp.coalesce(1).write.mode("overwrite").parquet(cpdir)
    part = [f for f in os.listdir(cpdir) if f.endswith(".parquet")][0]
    os.rename(
        os.path.join(cpdir, part),
        os.path.join(t, "_delta_log", f"{1:020d}.checkpoint.parquet"),
    )
    # pre-checkpoint commits vacuumed away: replay MUST start at the checkpoint
    os.unlink(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    os.unlink(os.path.join(t, "_delta_log", f"{1:020d}.json"))
    _write_data(t, "f4.parquet", [9])
    _commit(t, 2, [{"add": {"path": "f4.parquet", "partitionValues": {},
                            "size": 1, "modificationTime": 0, "dataChange": True}},
                   {"remove": {"path": "f2.parquet", "dataChange": True}}])
    assert _ids(D.read_delta(spark, t)) == [4, 5, 9]  # f3 + f4


def test_delta_protocol_gate(spark, tmp_path):
    t = str(tmp_path / "v3table")
    _write_data(t, "f1.parquet", [1])
    _commit(t, 0, [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
                   _META,
                   {"add": {"path": "f1.parquet", "partitionValues": {},
                            "size": 1, "modificationTime": 0, "dataChange": True}}])
    with pytest.raises(D.DeltaProtocolError):
        D.read_delta(spark, t)


def test_write_delta_roundtrip_append_overwrite(spark, tmp_path):
    t = str(tmp_path / "wtable")
    v0 = D.write_delta(spark.range(5).toDF("id"), t, mode="append")
    v1 = D.write_delta(spark.range(10, 13).toDF("id"), t, mode="append")
    assert (v0, v1) == (0, 1)
    assert _ids(D.read_delta(spark, t)) == [0, 1, 2, 3, 4, 10, 11, 12]
    assert _ids(D.read_delta(spark, t, version=0)) == [0, 1, 2, 3, 4]
    v2 = D.write_delta(spark.range(100, 102).toDF("id"), t, mode="overwrite")
    assert v2 == 2
    assert _ids(D.read_delta(spark, t)) == [100, 101]
    # the overwritten history is still time-travelable
    assert _ids(D.read_delta(spark, t, version=1)) == [0, 1, 2, 3, 4, 10, 11, 12]
    # first commit carries protocol + metaData (real-runtime readability)
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as f:
        kinds = [next(iter(json.loads(ln))) for ln in f if ln.strip()]
    assert kinds[:2] == ["protocol", "metaData"]


def test_write_delta_concurrent_appends_both_land(spark, tmp_path):
    import threading

    t = str(tmp_path / "ctable")
    D.write_delta(spark.range(1).toDF("id"), t)  # seed v0

    def add(lo):
        D.write_delta(spark.range(lo, lo + 2).toDF("id"), t, mode="append")

    threads = [threading.Thread(target=add, args=(lo,)) for lo in (10, 20)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    assert D.latest_delta_version(t) == 2  # both racers committed
    assert _ids(D.read_delta(spark, t)) == [0, 10, 11, 20, 21]


def test_uncommitted_batch_is_invisible(spark, tmp_path):
    """A writer that staged its batch but died before committing leaves
    an orphan ``batch-<uuid>`` dir: no commit names it, so neither the
    head nor a time-travel read returns its rows."""
    from nyc_taxi_data_warehouse_spark.sources.manifest import write_batch

    t = str(tmp_path / "orphan")
    D.write_delta(spark.range(5).toDF("id"), t)
    orphan = write_batch(spark.range(100, 110).toDF("id"), t)
    assert orphan and all(os.path.exists(f) for f in orphan)
    assert D.latest_delta_version(t) == 0
    assert _ids(D.read_delta(spark, t)) == [0, 1, 2, 3, 4]
    assert _ids(D.read_delta(spark, t, version=0)) == [0, 1, 2, 3, 4]


def test_url_encoded_paths_resolve(spark, tmp_path):
    """Protocol: add/remove paths are URL-encoded relative paths — a
    partition dir with a space arrives as %20 and must decode before
    filesystem resolution."""
    t = str(tmp_path / "enc")
    _write_data(t, "city=New York/f1.parquet", [1, 2, 3])
    _commit(t, 0, [_PROTO, _META,
                   {"add": {"path": "city=New%20York/f1.parquet",
                            "partitionValues": {"city": "New York"},
                            "size": 1, "modificationTime": 0,
                            "dataChange": True}}])
    assert _ids(D.read_delta(spark, t)) == [1, 2, 3]
    # remove with the same encoded key drops it
    _commit(t, 1, [{"remove": {"path": "city=New%20York/f1.parquet",
                               "dataChange": True}}])
    with pytest.raises(FileNotFoundError, match="no live files"):
        D.read_delta(spark, t)


def test_vacuumed_log_gap_raises_not_empty(spark, tmp_path):
    """Time travel below the oldest surviving commit must raise, not
    return an empty snapshot presented as valid."""
    t = _basic_table(tmp_path)
    # simulate log cleanup: commit 0 removed, checkpoint-free table
    os.unlink(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(FileNotFoundError, match="not reconstructible"):
        D.delta_snapshot(spark, t, version=1)
    with pytest.raises(FileNotFoundError, match="not reconstructible"):
        D.delta_snapshot(spark, t, version=0)


def test_stats_based_file_skipping(spark, tmp_path):
    """write_delta records add.stats; read_delta(where=...) prunes whole
    files on those bounds and filters the survivors."""
    t = str(tmp_path / "skip")
    df = spark.range(1000).toDF("id").repartitionByRange(8, "id")
    D.write_delta(df, t, mode="overwrite")
    all_files = D.delta_snapshot(spark, t)[1]
    assert len(all_files) == 8
    pruned = D.delta_snapshot(spark, t, where=[("id", ">=", 900)])[1]
    assert 0 < len(pruned) < len(all_files)
    got = D.read_delta(spark, t, where=[("id", ">=", 900)])
    assert got.count() == 100
    assert min(r.id for r in got.collect()) == 900
    # out-of-range equality prunes everything but returns an EMPTY frame
    # with the table schema, not an error
    empty = D.read_delta(spark, t, where=[("id", "=", 5000)])
    assert empty.count() == 0
    assert empty.schema.fieldNames() == ["id"]


def test_stats_absent_never_prunes(spark, tmp_path):
    t = _basic_table(tmp_path)  # hand-built adds carry no stats
    files_all = D.delta_snapshot(spark, t)[1]
    files_where = D.delta_snapshot(spark, t, where=[("id", ">=", 10**9)])[1]
    assert files_where == files_all


def test_footer_bounds_span_row_groups_and_skip_statless_columns(tmp_path):
    """Bounds cover every row group; a column written without statistics
    is absent (unbounded), never bounded by a partial view."""
    from nyc_taxi_data_warehouse_spark.sources.pruning import footer_bounds

    fp = str(tmp_path / "two_groups.parquet")
    tbl = pa.table(
        {"a": [5, 1, 3, 9, 7, 8], "s": list("mkzbqc"), "n": [4, 0, 2, 6, 1, 3]}
    )
    pq.write_table(tbl, fp, row_group_size=3, write_statistics=["a", "s"])
    assert pq.ParquetFile(fp).metadata.num_row_groups == 2
    assert footer_bounds(fp) == (6, {"a": (1, 9), "s": ("b", "z")})


def test_hadoop_single_slash_file_uri_resolves(spark, tmp_path):
    """Hadoop Path.toString renders local absolute URIs as 'file:/abs'
    (single slash); resolution must not join them under the table root."""
    t = str(tmp_path / "absuri")
    ext = str(tmp_path / "elsewhere")
    _write_data(ext, "f1.parquet", [7, 8])
    _commit(t, 0, [_PROTO, _META,
                   {"add": {"path": f"file:{ext}/f1.parquet",
                            "partitionValues": {}, "size": 1,
                            "modificationTime": 0, "dataChange": True}}])
    assert _ids(D.read_delta(spark, t)) == [7, 8]


def test_write_delta_append_schema_mismatch_raises(spark, tmp_path):
    t = str(tmp_path / "guard")
    D.write_delta(spark.range(3).toDF("id"), t)
    import pyspark.sql.functions as F
    with pytest.raises(D.DeltaProtocolError, match="append schema"):
        D.write_delta(
            spark.range(3).select(F.col("id"), F.lit(1.0).alias("x")),
            t, mode="append",
        )
    # same schema still appends
    D.write_delta(spark.range(3, 5).toDF("id"), t, mode="append")
    assert D.read_delta(spark, t).count() == 5


def test_write_delta_overwrite_redeclares_schema(spark, tmp_path):
    t = str(tmp_path / "reshape")
    import pyspark.sql.functions as F
    D.write_delta(spark.range(3).toDF("id"), t)
    D.write_delta(
        spark.range(2).select(F.col("id"), F.lit(2.5).alias("x")),
        t, mode="overwrite",
    )
    back = D.read_delta(spark, t)
    assert back.columns == ["id", "x"] and back.count() == 2
    # appends against the NEW declared schema work
    D.write_delta(
        spark.range(5, 7).select(F.col("id"), F.lit(1.0).alias("x")),
        t, mode="append",
    )
    assert D.read_delta(spark, t).count() == 4


def test_diff_queries_stable_under_reinvocation(spark, sf_dir):
    """q_snapshot_diff / q_iceberg_diff write into reused per-process dirs,
    so every re-invocation appends more versions; pinning the
    writer-returned versions must keep the RESULT identical run over run
    (the driver and bench invoke query callables more than once)."""
    from nyc_taxi_data_warehouse_spark.queries_data import (
        q_iceberg_diff,
        q_snapshot_diff,
    )

    for fn in (q_snapshot_diff, q_iceberg_diff):
        first = sorted(map(tuple, fn(spark, sf_dir).collect()))
        second = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert first == second and first


def _three_date_frame(spark):
    """3 files, one date per file, beside six columns of the other bound
    types (int, long, double, string, bool, nullable float)."""
    from datetime import date

    rows = [
        (1, 10, 1.5, "a", True, date(2024, 1, 3), None),
        (2, 20, -2.5, "c", False, date(2024, 1, 3), 0.5),
        (3, 30, 3.5, "d", True, date(2024, 1, 5), None),
        (4, 40, 4.5, "e", True, date(2024, 1, 5), None),
        (5, 50, 5.5, "f", False, date(2024, 1, 9), 2.5),
        (6, 60, 0.5, "b", False, date(2024, 1, 9), -1.0),
    ]
    schema = "i int, l long, x double, s string, b boolean, dt date, f float"
    return spark.createDataFrame(rows, schema).repartitionByRange(3, "dt")


def test_date_predicates_prune_in_both_lake_readers(spark, tmp_path):
    """Both writers record date bounds (Delta: YYYY-MM-DD strings, Iceberg:
    int32 days since the epoch), so a date predicate opens 1 of 3 files
    and returns what the filtered full read returns."""
    from datetime import date

    from nyc_taxi_data_warehouse_spark.sources import iceberg as I

    df = _three_date_frame(spark)
    dp, ip = str(tmp_path / "d"), str(tmp_path / "i")
    D.write_delta(df, dp, mode="overwrite")
    I.write_iceberg(df, ip)
    readers = {
        "delta": lambda where=None: D.read_delta(spark, dp, where=where),
        "iceberg": lambda where=None: I.read_iceberg(spark, ip, where=where),
    }
    d = date(2024, 1, 5)
    for name, read in readers.items():
        assert len(read().inputFiles()) == 3, name
        got = read([("dt", "=", d)])
        assert len(got.inputFiles()) == 1, name
        want = read().where(F.col("dt") == d)
        assert sorted(got.collect()) == sorted(want.collect()) != [], name
        assert len(read([("dt", ">", date(2024, 1, 5))]).inputFiles()) == 1, name


def test_date_bounds_leave_the_other_columns_bounds_unchanged(spark, tmp_path):
    """The date bounds are the only addition: the Delta stats and the
    Iceberg bound bytes of the frame's other six columns are the values
    the writers recorded before dates were bounded."""
    import struct
    from datetime import date

    from nyc_taxi_data_warehouse_spark.sources import iceberg as I

    df = _three_date_frame(spark)
    dp, ip = str(tmp_path / "d"), str(tmp_path / "i")
    D.write_delta(df, dp, mode="overwrite")
    I.write_iceberg(df, ip)

    stats = []
    with open(os.path.join(dp, "_delta_log", f"{0:020d}.json")) as f:
        for line in f:
            a = json.loads(line)
            if "add" in a:
                stats.append(json.loads(a["add"]["stats"]))
    stats.sort(key=lambda s: s["minValues"]["dt"])
    assert [(s["minValues"]["dt"], s["maxValues"]["dt"]) for s in stats] == [
        ("2024-01-03", "2024-01-03"),
        ("2024-01-05", "2024-01-05"),
        ("2024-01-09", "2024-01-09"),
    ]
    for s in stats:
        del s["minValues"]["dt"], s["maxValues"]["dt"]
    assert stats == [
        {"numRecords": 2,
         "minValues": {"i": 1, "l": 10, "x": -2.5, "s": "a", "b": False, "f": 0.5},
         "maxValues": {"i": 2, "l": 20, "x": 1.5, "s": "c", "b": True, "f": 0.5}},
        {"numRecords": 2,
         "minValues": {"i": 3, "l": 30, "x": 3.5, "s": "d", "b": True},
         "maxValues": {"i": 4, "l": 40, "x": 4.5, "s": "e", "b": True}},
        {"numRecords": 2,
         "minValues": {"i": 5, "l": 50, "x": 0.5, "s": "b", "b": False, "f": -1.0},
         "maxValues": {"i": 6, "l": 60, "x": 5.5, "s": "f", "b": False, "f": 2.5}},
    ]

    meta = I._load_metadata(ip)
    bounds = []
    for rec in I._live_entries(I._pick_snapshot(meta, None), ip):
        lo = {e["key"]: e["value"].hex() for e in rec["lower_bounds"]}
        hi = {e["key"]: e["value"].hex() for e in rec["upper_bounds"]}
        bounds.append((lo, hi))
    bounds.sort(key=lambda b: b[0][6])
    days = [(date(2024, 1, n) - date(1970, 1, 1)).days for n in (3, 5, 9)]
    for (lo, hi), n in zip(bounds, days):
        assert lo.pop(6) == hi.pop(6) == struct.pack("<i", n).hex()
    assert bounds == [
        ({1: "01000000", 2: "0a00000000000000", 3: "00000000000004c0",
          4: "61", 5: "00", 7: "0000003f"},
         {1: "02000000", 2: "1400000000000000", 3: "000000000000f83f",
          4: "63", 5: "01", 7: "0000003f"}),
        ({1: "03000000", 2: "1e00000000000000", 3: "0000000000000c40",
          4: "64", 5: "01"},
         {1: "04000000", 2: "2800000000000000", 3: "0000000000001240",
          4: "65", 5: "01"}),
        ({1: "05000000", 2: "3200000000000000", 3: "000000000000e03f",
          4: "62", 5: "00", 7: "000080bf"},
         {1: "06000000", 2: "3c00000000000000", 3: "0000000000001640",
          4: "66", 5: "00", 7: "00002040"}),
    ]


def test_add_matches_reads_protocol_date_strings():
    """A foreign table's date stats are YYYY-MM-DD strings: a date
    predicate prunes on them instead of raising on str-vs-date, and a
    value that does not compare with the bounds never prunes."""
    from datetime import date, datetime

    from nyc_taxi_data_warehouse_spark.sources.pruning import range_may_match

    add = {"stats": json.dumps({
        "numRecords": 3,
        "minValues": {"dt": "2024-01-01"},
        "maxValues": {"dt": "2024-01-03"},
    })}
    assert not D._add_matches(add, [("dt", "=", date(2024, 1, 5))])
    assert D._add_matches(add, [("dt", "=", date(2024, 1, 2))])
    assert not D._add_matches(add, [("dt", "<", date(2024, 1, 1))])
    lo, hi = date(2024, 1, 1), date(2024, 1, 3)
    assert range_may_match(lo, hi, "=", "2024-01-05")
    assert range_may_match(lo, hi, ">=", datetime(2024, 1, 5))
