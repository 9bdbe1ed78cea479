"""Apache Iceberg table interop — read via metadata/manifest replay and
a minimal protocol-conformant v2 writer, per the public Iceberg table
spec (https://iceberg.apache.org/spec/). Companion to
:mod:`.delta_read`: Delta covers the JSON-log format, this covers the
Avro-manifest format, so a user can POINT the engine at either lake
layout without extra runtime jars.

Layout recap (spec §"Table Metadata" / §"Manifests"):

- ``metadata/v{N}.metadata.json`` — the table root document: schema,
  snapshots, current snapshot pointer; ``version-hint.text`` names the
  current N. A new metadata file per commit, published with
  :func:`.manifest.put_if_absent` = the commit atomicity point (the same
  primitive the Delta writer uses), so a crashed writer never leaves a
  partial metadata file behind.
- each snapshot points at a **manifest list** (Avro, one row per
  manifest with partition/row stats) which points at **manifests**
  (Avro, one row per data file: status, path, format, counts).
- snapshot(S) = live data files = entries with status != DELETED in
  S's manifests. Time travel = pick a different snapshot id.

All manifest decoding is driver-side KB-scale metadata work via
:mod:`.avro_io`; the data read stays one plain parquet scan (Iceberg
data files embed partition columns, so no directory-layout recovery is
needed and column pruning/pushdown work unchanged).

Honest boundaries (raise, never mis-read): row-level deletes (v2
position/equality delete files), format-version > 2, non-parquet data
files, and nested schema evolution by field-id remapping (the reader
serves the parquet schema as written).

The writer produces unpartitioned v2 tables (append/overwrite, flat
schemas) whose metadata follows the spec's required fields — readable
by real Iceberg runtimes and by this reader; it is the fixture path for
round-trip gating, not a full catalog implementation.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession

from . import avro_io
from .manifest import list_versions, put_if_absent, write_batch
from .pruning import (
    apply_where,
    check_where,
    footer_bounds,
    range_may_match,
    resolve_local,
)

_VMETA_RE = re.compile(r"^v(\d+)\.metadata\.json$")


class IcebergProtocolError(RuntimeError):
    """The table requires features this implementation does not cover."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def is_iceberg_table(path: str) -> bool:
    return bool(list_versions(_meta_dir(path), _VMETA_RE))


def _current_version(path: str) -> int:
    """Newest committed metadata version. The directory listing, not
    version-hint.text, is authoritative: the hint is written AFTER the
    put-if-absent commit, so a crash in between leaves it one behind
    (Iceberg's own HadoopTableOperations probes past the hint the same
    way)."""
    versions = list_versions(_meta_dir(path), _VMETA_RE)
    if not versions:
        raise IcebergProtocolError(f"{path}: no metadata/v*.metadata.json")
    return versions[-1]


def _commit_metadata(path: str, version: int, meta: dict) -> None:
    """Publish ``v{version}.metadata.json`` put-if-absent (the commit
    point), then point ``version-hint.text`` at it. A rival that already
    committed ``version`` makes this raise FileExistsError."""
    meta_d = _meta_dir(path)
    target = os.path.join(meta_d, f"v{version}.metadata.json")
    if not put_if_absent(target, json.dumps(meta)):
        raise FileExistsError(f"{target}: a rival committed this version")
    with open(os.path.join(meta_d, "version-hint.text"), "w") as f:
        f.write(str(version))


def _load_metadata(path: str, version: int | None = None) -> dict:
    if version is None:
        version = _current_version(path)
    with open(os.path.join(_meta_dir(path), f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    if meta.get("format-version", 1) > 2:
        raise IcebergProtocolError(
            f"format-version {meta['format-version']} > 2 not supported"
        )
    return meta


def _local_path(uri: str, table_path: str) -> str:
    try:
        return resolve_local(uri, table_path)
    except ValueError as exc:
        raise IcebergProtocolError(str(exc)) from exc


def _pick_snapshot(meta: dict, snapshot_id: int | None) -> dict | None:
    snaps = meta.get("snapshots", [])
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise IcebergProtocolError(f"snapshot {snapshot_id} not found")
    cur = meta.get("current-snapshot-id")
    if cur in (None, -1):
        return None
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    raise IcebergProtocolError(f"current snapshot {cur} missing from list")


def _schema_fields(meta: dict) -> list[dict]:
    schemas = meta.get("schemas")
    schema = (
        next(s for s in schemas if s["schema-id"] == meta["current-schema-id"])
        if schemas
        else meta["schema"]
    )
    return schema["fields"]


def _bounds_map(raw) -> dict[int, bytes]:
    """Bound maps arrive as Avro array<key/value record> (or None)."""
    if not raw:
        return {}
    return {e["key"]: e["value"] for e in raw}


def _file_matches(df_rec: dict, where, by_name: dict[str, dict]) -> bool:
    """Can this data file contain rows matching every (col, op, value)
    predicate? Missing bounds ⇒ must read (prune only on proof)."""
    lo_m = _bounds_map(df_rec.get("lower_bounds"))
    hi_m = _bounds_map(df_rec.get("upper_bounds"))
    for col, op, val in where:
        f = by_name.get(col)
        if f is None or not isinstance(f["type"], str):
            continue
        fid, t = f["id"], f["type"]
        lo = _deserialize_bound(t, lo_m[fid]) if fid in lo_m else None
        hi = _deserialize_bound(t, hi_m[fid]) if fid in hi_m else None
        if not range_may_match(lo, hi, op, val):
            return False
    return True


def _live_entries(snap: dict, table_path: str):
    """Yield the ``data_file`` record of every live entry (status !=
    DELETED) in ``snap``'s manifests: the one manifest walk that reads
    and counts share. Raises on what it cannot read correctly: delete
    manifests, position/equality delete files, non-Parquet data files."""
    if "manifest-list" in snap:
        _, mlist = avro_io.read_ocf(_local_path(snap["manifest-list"], table_path))
        if any(m.get("content", 0) == 1 for m in mlist):
            raise IcebergProtocolError(
                "table has delete manifests (row-level deletes): "
                "not supported by this reader"
            )
        manifests = [m["manifest_path"] for m in mlist]
    else:  # v1 inline manifest array
        manifests = list(snap.get("manifests", []))
    for mpath in manifests:
        _, entries = avro_io.read_ocf(_local_path(mpath, table_path))
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            df_rec = e["data_file"]
            if df_rec.get("content", 0) != 0:
                raise IcebergProtocolError(
                    "position/equality delete files not supported"
                )
            fmt = str(df_rec["file_format"]).upper()
            if fmt != "PARQUET":
                raise IcebergProtocolError(f"unsupported file format {fmt}")
            yield df_rec


def _live_data_files(
    meta: dict, snap: dict, table_path: str, where=None
) -> list[str]:
    check_where(where)
    # schema lookup hoisted out of the per-entry loop (thousands of data
    # files share one schema; the metadata path must stay cheap)
    by_name = (
        {f["name"]: f for f in _schema_fields(meta)} if where else {}
    )
    return [
        _local_path(df_rec["file_path"], table_path)
        for df_rec in _live_entries(snap, table_path)
        if not where or _file_matches(df_rec, where, by_name)
    ]


_ICE_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
    "string": "string",
    "binary": "binary",
}


def _empty_frame(spark: SparkSession, meta: dict) -> DataFrame:
    parts = []
    for f in _schema_fields(meta):
        t = f["type"]
        if not isinstance(t, str):
            raise IcebergProtocolError("nested types not supported")
        m = re.match(r"^decimal\((\d+),\s*(\d+)\)$", t)
        spark_t = f"decimal({m.group(1)},{m.group(2)})" if m else _ICE_TO_SPARK.get(t)
        if spark_t is None:
            raise IcebergProtocolError(f"unsupported type {t!r}")
        parts.append(f"`{f['name']}` {spark_t}")
    return spark.createDataFrame([], ", ".join(parts))


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """DataFrame over an Iceberg table's current (or a named) snapshot.

    ``where`` — optional [(col, op, value), ...] with op in
    ``= < <= > >=`` — prunes whole FILES via the manifests' per-column
    bounds before Spark opens anything (the metadata tier of Iceberg's
    scan planning; parquet row-group pruning then applies within the
    survivors). Pruning is proof-based: files lacking bounds are read.
    The predicate is ALSO applied to the returned frame, so results are
    correct even though pruning is coarse."""
    check_where(where)
    meta = _load_metadata(path)
    snap = _pick_snapshot(meta, snapshot_id)
    if snap is None:
        return _empty_frame(spark, meta)
    files = _live_data_files(meta, snap, path, where)
    if not files:
        return _empty_frame(spark, meta)
    return apply_where(spark.read.parquet(*files), where)


def snapshots(path: str) -> list[dict]:
    """(snapshot-id, timestamp-ms, operation) history, oldest first."""
    meta = _load_metadata(path)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "timestamp_ms": s.get("timestamp-ms"),
            "operation": (s.get("summary") or {}).get("operation"),
        }
        for s in sorted(meta.get("snapshots", []), key=lambda s: s.get("timestamp-ms") or 0)
    ]


def count_rows(path: str, snapshot_id: int | None = None) -> int:
    """Row count from manifest metadata alone — no data file is opened.
    The aggregate-pushdown trick Iceberg enables at 100 TB: manifests
    carry per-file ``record_count``, so COUNT(*) is a KB-scale metadata
    read instead of a table scan. Raises wherever :func:`read_iceberg`
    raises (delete manifests or files, non-Parquet data)."""
    meta = _load_metadata(path)
    snap = _pick_snapshot(meta, snapshot_id)
    if snap is None:
        return 0
    return sum(df_rec["record_count"] for df_rec in _live_entries(snap, path))


def expire_snapshots(path: str, keep_last: int = 1) -> list[str]:
    """Drop all but the newest ``keep_last`` snapshots and delete data
    files referenced ONLY by the expired ones (the Iceberg maintenance
    operation that bounds history growth). Survivor-set deletion: a file
    is removed only if no retained snapshot references it. Returns the
    deleted file paths. Commits new metadata put-if-absent like any
    write."""
    base_version = _current_version(path)
    meta = _load_metadata(path, base_version)
    snaps = sorted(
        meta.get("snapshots", []), key=lambda s: s.get("timestamp-ms") or 0
    )
    if len(snaps) <= keep_last:
        return []
    kept, expired = snaps[-keep_last:], snaps[:-keep_last]

    def _files_of(snap_list):
        out = set()
        for s in snap_list:
            try:
                out.update(_live_data_files(meta, s, path))
            except IcebergProtocolError:
                # unreadable/exotic snapshot: keep its files (safe side)
                if s in kept:
                    raise
        return out

    keep_files = _files_of(kept)
    dead = sorted(_files_of(expired) - keep_files)
    kept_ids = {s["snapshot-id"] for s in kept}
    new_meta = dict(meta)
    new_meta["snapshots"] = kept
    new_meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", []) if e["snapshot-id"] in kept_ids
    ]
    _commit_metadata(path, base_version + 1, new_meta)
    # files only after the commit: a crash before this point leaves
    # orphans (re-runnable), never a corrupt table
    for fp in dead:
        try:
            os.unlink(fp)
        except FileNotFoundError:
            pass
    return dead


def compact(spark: SparkSession, path: str, target_files: int = 1) -> int:
    """Rewrite the current snapshot's data into ``target_files`` files
    (small-file compaction, Iceberg's `rewrite_data_files`): read the
    live set, write it back as one overwrite commit. History is kept —
    pre-compaction snapshots still time-travel; run
    :func:`expire_snapshots` afterwards to reclaim the old files.
    Returns the new snapshot id."""
    df = read_iceberg(spark, path)
    return write_iceberg(df.coalesce(target_files), path, mode="overwrite")


# --- writer ----------------------------------------------------------------

_SPARK_TO_ICE = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp",
    "string": "string",
    "binary": "binary",
}

# spec-required manifest-list schema (v2), field ids per the table spec
_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "default": None,
            "field-id": 3,
        },
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "default": None,
            "field-id": 4,
        },
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    # per-file column bounds (spec: map<field-id, bytes>;
                    # Iceberg encodes non-string-key maps as Avro arrays
                    # of key/value records)
                    {
                        "name": "lower_bounds",
                        "field-id": 125,
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "logicalType": "map",
                                "items": {
                                    "type": "record",
                                    "name": "k126_v127",
                                    "fields": [
                                        {"name": "key", "type": "int", "field-id": 126},
                                        {"name": "value", "type": "bytes", "field-id": 127},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                    },
                    {
                        "name": "upper_bounds",
                        "field-id": 128,
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "logicalType": "map",
                                "items": {
                                    "type": "record",
                                    "name": "k129_v130",
                                    "fields": [
                                        {"name": "key", "type": "int", "field-id": 129},
                                        {"name": "value", "type": "bytes", "field-id": 130},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                    },
                ],
            },
        },
    ],
}


# --- single-value serialization (spec Appendix D) --------------------------

import struct as _struct

_EPOCH_DAY = date(1970, 1, 1)  # a date bound is int32 days since it


def _serialize_bound(ice_type: str, v):
    """Iceberg single-value binary serialization for bound maps."""
    if ice_type == "int":
        return _struct.pack("<i", int(v))
    if ice_type == "long":
        return _struct.pack("<q", int(v))
    if ice_type == "float":
        return _struct.pack("<f", float(v))
    if ice_type == "double":
        return _struct.pack("<d", float(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "date":
        return _struct.pack("<i", (v - _EPOCH_DAY).days)
    return None  # unsupported: omit the bound (always legal)


def _deserialize_bound(ice_type: str, b: bytes):
    if ice_type == "int":
        return _struct.unpack("<i", b)[0]
    if ice_type == "long":
        return _struct.unpack("<q", b)[0]
    if ice_type == "float":
        return _struct.unpack("<f", b)[0]
    if ice_type == "double":
        return _struct.unpack("<d", b)[0]
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "boolean":
        return b != b"\x00"
    if ice_type == "date":
        return _EPOCH_DAY + timedelta(days=_struct.unpack("<i", b)[0])
    return None


def _spark_schema_to_iceberg(df: DataFrame) -> tuple[dict, int]:
    fields = []
    for i, f in enumerate(df.schema.fields, start=1):
        t = f.dataType.typeName()
        if t == "decimal":
            ice_t = f"decimal({f.dataType.precision},{f.dataType.scale})"
        else:
            ice_t = _SPARK_TO_ICE.get(t)
        if ice_t is None:
            raise IcebergProtocolError(
                f"unsupported column type {t!r} (flat schemas only)"
            )
        fields.append(
            {"id": i, "name": f.name, "required": False, "type": ice_t}
        )
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        len(fields),
    )


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    base_version: int | None = None,
    properties: dict[str, str] | None = None,
) -> int:
    """Append or overwrite an unpartitioned Iceberg v2 table; returns the
    new snapshot id. Each call writes an immutable parquet batch dir, a
    manifest, a manifest list, and commits ``v{N}.metadata.json``
    put-if-absent — racing writers: exactly one wins, the loser raises
    FileExistsError and can retry on the new base (the same commit
    primitive as the Delta writer).

    The base version is resolved ONCE (or pinned via ``base_version``)
    and the commit targets base+1, so a rival that commits base+1 first
    makes this write FAIL instead of silently dropping the rival's
    snapshot from history."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode {mode!r}")
    meta_d = _meta_dir(path)
    os.makedirs(meta_d, exist_ok=True)
    if base_version is None:
        versions = list_versions(meta_d, _VMETA_RE)
        base_version = versions[-1] if versions else None
    prev = _load_metadata(path, base_version) if base_version else None
    if prev and mode == "append":
        prev_snap = _pick_snapshot(prev, None)
    else:
        prev_snap = None

    # 1. immutable data batch, with each file's footer bounds encoded
    # field-id keyed per spec Appendix D (unsupported types are omitted,
    # which reads as unbounded)
    ice_types = {
        f.name: (_SPARK_TO_ICE.get(f.dataType.typeName()) or "")
        for f in df.schema.fields
    }
    field_ids = {f.name: i for i, f in enumerate(df.schema.fields, start=1)}
    data_files = []
    for fp in write_batch(df, os.path.join(path, "data")):
        nrows, bounds = footer_bounds(fp)
        lo, hi = [], []
        for name, (bmin, bmax) in bounds.items():
            if name not in field_ids:
                continue
            blo = _serialize_bound(ice_types[name], bmin)
            bhi = _serialize_bound(ice_types[name], bmax)
            if blo is not None and bhi is not None:
                lo.append({"key": field_ids[name], "value": blo})
                hi.append({"key": field_ids[name], "value": bhi})
        data_files.append((fp, nrows, os.path.getsize(fp), lo or None, hi or None))

    snapshot_id = uuid.uuid4().int >> 65  # positive 63-bit
    seq = (prev.get("last-sequence-number", 0) + 1) if prev else 1

    # 2. manifest for the new files
    manifest_path = os.path.join(meta_d, f"manifest-{uuid.uuid4().hex}.avro")
    avro_io.write_ocf(
        manifest_path,
        _MANIFEST_SCHEMA,
        [
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": None,  # inherited from the snapshot
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": nrows,
                    "file_size_in_bytes": size,
                    "lower_bounds": lo,
                    "upper_bounds": hi,
                },
            }
            for fp, nrows, size, lo, hi in data_files
        ],
    )

    # 3. manifest list: new manifest (+ carried-forward ones on append)
    entries = [
        {
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(data_files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(n for _, n, _, _, _ in data_files),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    if prev_snap is not None and "manifest-list" in prev_snap:
        _, carried = avro_io.read_ocf(
            _local_path(prev_snap["manifest-list"], path)
        )
        entries.extend(carried)
    mlist_path = os.path.join(
        meta_d, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    )
    avro_io.write_ocf(mlist_path, _MANIFEST_LIST_SCHEMA, entries)

    # 4. new table metadata, committed put-if-absent
    now_ms = int(time.time() * 1000)
    schema, last_col = _spark_schema_to_iceberg(df)
    if mode == "append" and prev is not None:
        prev_fields = [
            (f["name"], f["type"]) for f in _schema_fields(prev)
        ]
        new_fields = [(f["name"], f["type"]) for f in schema["fields"]]
        if prev_fields != new_fields:
            # appending a different shape would leave files with mixed
            # schemas behind one table schema — readers would serve
            # whichever file's schema they sample. Schema evolution
            # needs field-id mapping this writer does not implement.
            raise IcebergProtocolError(
                f"append schema {new_fields} != table schema {prev_fields}; "
                "use mode='overwrite' to replace the table shape"
            )
    snap = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist_path,
        "summary": {"operation": mode},
        "schema-id": 0,
    }
    snapshots_list = (prev.get("snapshots", []) if prev else []) + [snap]
    meta = {
        "format-version": 2,
        "table-uuid": (prev or {}).get("table-uuid", str(uuid.uuid4())),
        "location": path,
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": last_col,
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        # table properties persist across commits (overwrite replaces
        # DATA, not table configuration); explicit keys win
        "properties": {**(prev or {}).get("properties", {}), **(properties or {})},
        "current-snapshot-id": snapshot_id,
        "snapshots": snapshots_list,
        "snapshot-log": [
            {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
            for s in snapshots_list
        ],
        "metadata-log": [],
    }
    _commit_metadata(path, (base_version + 1) if base_version else 1, meta)
    return snapshot_id
