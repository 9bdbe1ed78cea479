"""Iceberg interop tests: avro OCF round-trip, write→read round-trip,
append/overwrite snapshot semantics, time travel, and the protocol
boundaries (delete files, foreign formats) raising instead of
mis-reading."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.sources import avro_io, iceberg


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_avro_ocf_roundtrip(tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"], "default": None},
            {"name": "a", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "double"}},
            {"name": "b", "type": "bytes"},
            {"name": "f", "type": "boolean"},
        ],
    }
    recs = [
        {"s": "x", "n": 12345678901234, "a": [1, -2], "m": {"k": 1.5}, "b": b"\x00", "f": True},
        {"s": "", "n": None, "a": [], "m": {}, "b": b"", "f": False},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        avro_io.write_ocf(p, schema, recs, codec=codec)
        s2, got = avro_io.read_ocf(p)
        assert s2 == schema and got == recs


def test_write_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    iceberg.write_iceberg(df, t, mode="overwrite")
    assert iceberg.is_iceberg_table(t)
    back = iceberg.read_iceberg(spark, t)
    assert _rows(back) == _rows(df)


def test_append_and_overwrite_snapshots(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = spark.range(10).select(F.col("id"))
    b = spark.range(10, 25).select(F.col("id"))
    s1 = iceberg.write_iceberg(a, t, mode="overwrite")
    s2 = iceberg.write_iceberg(b, t, mode="append")
    assert iceberg.read_iceberg(spark, t).count() == 25
    # time travel to the first snapshot
    assert iceberg.read_iceberg(spark, t, snapshot_id=s1).count() == 10
    # overwrite replaces the live set but keeps history
    s3 = iceberg.write_iceberg(a, t, mode="overwrite")
    assert iceberg.read_iceberg(spark, t).count() == 10
    assert iceberg.read_iceberg(spark, t, snapshot_id=s2).count() == 25
    ops = [s["operation"] for s in iceberg.snapshots(t)]
    assert ops == ["overwrite", "append", "overwrite"]
    assert s3 != s2 != s1


def test_empty_table_and_missing_snapshot(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(5).select(F.col("id"))
    iceberg.write_iceberg(df, t)
    with pytest.raises(iceberg.IcebergProtocolError, match="not found"):
        iceberg.read_iceberg(spark, t, snapshot_id=123456)


def test_delete_manifests_raise(spark, tmp_path):
    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(5).select(F.col("id")), t)
    meta = iceberg._load_metadata(t)
    snap = iceberg._pick_snapshot(meta, None)
    # inject a delete manifest (content=1) into the manifest list
    mlist = iceberg._local_path(snap["manifest-list"], t)
    schema, entries = avro_io.read_ocf(mlist)
    entries.append({**entries[0], "content": 1})
    avro_io.write_ocf(mlist, schema, entries)
    with pytest.raises(iceberg.IcebergProtocolError, match="delete manifests"):
        iceberg.read_iceberg(spark, t)


def test_foreign_format_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(5).select(F.col("id")), t)
    meta = iceberg._load_metadata(t)
    snap = iceberg._pick_snapshot(meta, None)
    mlist = iceberg._local_path(snap["manifest-list"], t)
    _, mentries = avro_io.read_ocf(mlist)
    mpath = iceberg._local_path(mentries[0]["manifest_path"], t)
    schema, entries = avro_io.read_ocf(mpath)
    for e in entries:
        e["data_file"]["file_format"] = "ORC"
    avro_io.write_ocf(mpath, schema, entries)
    with pytest.raises(iceberg.IcebergProtocolError, match="file format"):
        iceberg.read_iceberg(spark, t)


def test_v1_inline_manifests_supported(spark, tmp_path):
    """A hand-built v1 table (snapshot lists manifests directly, no
    manifest-list indirection) reads correctly."""
    t = str(tmp_path / "v1tbl")
    # build via the writer, then rewrite metadata in v1 shape
    iceberg.write_iceberg(spark.range(7).select(F.col("id")), t)
    meta = iceberg._load_metadata(t)
    snap = iceberg._pick_snapshot(meta, None)
    _, mentries = avro_io.read_ocf(iceberg._local_path(snap["manifest-list"], t))
    v1 = {
        "format-version": 1,
        "table-uuid": meta["table-uuid"],
        "location": t,
        "last-updated-ms": meta["last-updated-ms"],
        "last-column-id": meta["last-column-id"],
        "schema": meta["schemas"][0],
        "partition-spec": [],
        "properties": {},
        "current-snapshot-id": snap["snapshot-id"],
        "snapshots": [
            {
                "snapshot-id": snap["snapshot-id"],
                "timestamp-ms": snap["timestamp-ms"],
                "manifests": [m["manifest_path"] for m in mentries],
                "summary": {"operation": "append"},
            }
        ],
    }
    with open(os.path.join(t, "metadata", "v2.metadata.json"), "w") as f:
        json.dump(v1, f)
    with open(os.path.join(t, "metadata", "version-hint.text"), "w") as f:
        f.write("2")
    assert iceberg.read_iceberg(spark, t).count() == 7


def test_count_rows_is_metadata_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(40).select(F.col("id")), t)
    s2 = iceberg.write_iceberg(spark.range(17).select(F.col("id")), t, mode="append")
    assert iceberg.count_rows(t) == 57
    assert iceberg.count_rows(t, snapshot_id=s2) == 57
    # still correct after the data dir is made unreadable to a scan
    # (proves no data file is opened)
    meta = iceberg._load_metadata(t)
    snap = iceberg._pick_snapshot(meta, None)
    for fp in iceberg._live_data_files(meta, snap, t):
        os.rename(fp, fp + ".hidden")
    assert iceberg.count_rows(t) == 57
    for root, _, names in os.walk(t):
        for n in names:
            if n.endswith(".hidden"):
                os.rename(os.path.join(root, n), os.path.join(root, n[:-7]))


def test_expire_snapshots_keeps_survivor_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = iceberg.write_iceberg(spark.range(10).select(F.col("id")), t)
    s2 = iceberg.write_iceberg(
        spark.range(10, 15).select(F.col("id")), t, mode="append"
    )
    dead = iceberg.expire_snapshots(t, keep_last=1)
    # snapshot 1's files are ALSO referenced by snapshot 2 (append carries
    # manifests forward): nothing may be deleted
    assert dead == []
    assert iceberg.read_iceberg(spark, t).count() == 15
    with pytest.raises(iceberg.IcebergProtocolError, match="not found"):
        iceberg.read_iceberg(spark, t, snapshot_id=s1)

    # an overwrite makes the old files exclusive to expired history
    iceberg.write_iceberg(spark.range(3).select(F.col("id")), t, mode="overwrite")
    dead = iceberg.expire_snapshots(t, keep_last=1)
    assert dead  # pre-overwrite batches deleted
    assert iceberg.read_iceberg(spark, t).count() == 3
    assert iceberg.count_rows(t) == 3
    assert s2 not in {s["snapshot_id"] for s in iceberg.snapshots(t)}


def test_manifest_bounds_prune_files(spark, tmp_path):
    """Files whose manifest min/max exclude the predicate are never
    handed to the scan; results stay correct (residual filter applied)."""
    t = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("s"),
    )
    iceberg.write_iceberg(df.repartitionByRange(8, "id"), t)
    meta = iceberg._load_metadata(t)
    snap = iceberg._pick_snapshot(meta, None)
    all_files = iceberg._live_data_files(meta, snap, t)
    assert len(all_files) == 8
    pruned = iceberg._live_data_files(meta, snap, t, where=[("id", ">=", 900)])
    assert 0 < len(pruned) < len(all_files)
    got = iceberg.read_iceberg(spark, t, where=[("id", ">=", 900)])
    assert got.count() == 100
    assert got.agg(F.min("id")).collect()[0][0] == 900
    # string bounds prune too
    pruned_s = iceberg._live_data_files(meta, snap, t, where=[("s", "<", "k0100")])
    assert 0 < len(pruned_s) < len(all_files)
    assert iceberg.read_iceberg(spark, t, where=[("s", "<", "k0100")]).count() == 100
    # equality outside the table range prunes everything
    assert iceberg._live_data_files(meta, snap, t, where=[("id", "=", 5000)]) == []
    assert iceberg.read_iceberg(spark, t, where=[("id", "=", 5000)]).count() == 0


def test_bounds_absent_means_read(spark, tmp_path):
    """A manifest without bounds (older writer) must never be pruned."""
    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(10).select(F.col("id")), t)
    meta = iceberg._load_metadata(t)
    snap = iceberg._pick_snapshot(meta, None)
    mlist = iceberg._local_path(snap["manifest-list"], t)
    _, mentries = avro_io.read_ocf(mlist)
    mpath = iceberg._local_path(mentries[0]["manifest_path"], t)
    schema, entries = avro_io.read_ocf(mpath)
    for e in entries:
        e["data_file"]["lower_bounds"] = None
        e["data_file"]["upper_bounds"] = None
    avro_io.write_ocf(mpath, schema, entries)
    assert iceberg.read_iceberg(spark, t, where=[("id", ">=", 9)]).count() == 1


def test_commit_is_put_if_absent(spark, tmp_path):
    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(3).select(F.col("id")), t)
    # a rival commits v2 while this writer still holds base v1: the
    # pinned-base commit must lose the put-if-absent (os.link) on v2, not
    # overwrite history
    s_rival = iceberg.write_iceberg(
        spark.range(10).select(F.col("id")), t, mode="append"
    )
    with pytest.raises(FileExistsError):
        iceberg.write_iceberg(
            spark.range(5).select(F.col("id")), t, mode="append", base_version=1
        )
    # the rival's snapshot is intact
    assert iceberg.read_iceberg(spark, t, snapshot_id=s_rival).count() == 13


_CRASH_MID_COMMIT = """
import json, os, sys
from nyc_taxi_data_warehouse_spark.sources import iceberg

def _die(*_a, **_k):
    os._exit(86)

json.dump = os.fsync = _die  # the process dies while publishing metadata
iceberg.expire_snapshots(sys.argv[1], keep_last=1)
"""


def test_crash_mid_commit_leaves_table_readable(spark, tmp_path):
    """A writer killed while writing the next metadata file must leave
    no visible partial ``v{N}.metadata.json``: readers keep serving the
    last committed snapshot and the next writer commits past it."""
    import subprocess
    import sys

    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(3).select(F.col("id")), t)
    iceberg.write_iceberg(spark.range(3, 5).select(F.col("id")), t, mode="append")
    before = _rows(iceberg.read_iceberg(spark, t))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _CRASH_MID_COMMIT, t],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert child.returncode == 86, child.stderr  # died at the commit point
    assert _rows(iceberg.read_iceberg(spark, t)) == before
    iceberg.write_iceberg(spark.range(5, 6).select(F.col("id")), t, mode="append")
    assert _rows(iceberg.read_iceberg(spark, t)) == before + [(5,)]


def test_unsupported_predicate_op_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(5).select(F.col("id")), t)
    with pytest.raises(ValueError, match="unsupported predicate"):
        iceberg.read_iceberg(spark, t, where=[("id", "!=", 3)])


def test_append_schema_mismatch_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(5).select(F.col("id")), t)
    with pytest.raises(iceberg.IcebergProtocolError, match="append schema"):
        iceberg.write_iceberg(
            spark.range(5).select(F.col("id"), F.lit(1.0).alias("extra")),
            t, mode="append",
        )
    # overwrite with the new shape is the sanctioned path
    iceberg.write_iceberg(
        spark.range(3).select(F.col("id"), F.lit(1.0).alias("extra")),
        t, mode="overwrite",
    )
    assert iceberg.read_iceberg(spark, t).columns == ["id", "extra"]


def test_compact_rewrites_small_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    iceberg.write_iceberg(spark.range(50).select(F.col("id")).repartition(6), t)
    iceberg.write_iceberg(
        spark.range(50, 80).select(F.col("id")).repartition(4), t, mode="append"
    )
    meta = iceberg._load_metadata(t)
    snap = iceberg._pick_snapshot(meta, None)
    assert len(iceberg._live_data_files(meta, snap, t)) == 10
    s = iceberg.compact(spark, t, target_files=1)
    meta = iceberg._load_metadata(t)
    snap = iceberg._pick_snapshot(meta, s)
    assert len(iceberg._live_data_files(meta, snap, t)) == 1
    assert iceberg.read_iceberg(spark, t).count() == 80
    dead = iceberg.expire_snapshots(t, keep_last=1)
    assert len(dead) == 10  # the pre-compaction small files reclaimed
    assert iceberg.read_iceberg(spark, t).count() == 80
