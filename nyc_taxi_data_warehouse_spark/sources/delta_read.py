"""Read-only Delta Lake table support — log replay per the public
Delta transaction protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md).

The engine's own transactional formats are :mod:`.sinks`
(rename-atomic filesystems) and :mod:`.manifest` (object stores); this
module lets a user POINT the engine at an existing Delta table — the
interop gap a warehouse migration actually hits — without requiring the
delta-spark runtime jar:

- a Delta table is a parquet directory plus ``_delta_log/`` holding one
  ``%020d.json`` per commit; each line of a commit is one ACTION object:
  ``add`` (file enters the snapshot), ``remove`` (file leaves it),
  ``metaData`` (schema/partitioning), ``protocol`` (reader version gate);
- every 10th-ish commit the writer drops a ``%020d.checkpoint.parquet``
  holding the accumulated actions as columns, plus a ``_last_checkpoint``
  pointer — replay starts from the newest checkpoint ≤ the requested
  version instead of action zero;
- snapshot(V) = replay actions in commit order, LAST action per file
  path wins. Time travel = stop the replay at V.

Scale note: the log replay is driver-side METADATA work (file lists,
KB-scale JSON), exactly like Delta's own snapshot construction; the data
read stays a plain parquet scan with partition discovery anchored at the
table root (``basePath``), so partition pruning and column pruning work
unchanged. Unsupported reader features (column mapping, deletion
vectors — ``minReaderVersion`` > 1 without explicit allow) raise rather
than silently mis-read.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from .manifest import commit_next, list_versions

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")


class DeltaProtocolError(RuntimeError):
    """The table requires reader features this replay does not implement."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def is_delta_table(path: str) -> bool:
    return os.path.isdir(_log_dir(path))


def latest_delta_version(path: str) -> int:
    """Highest committed version, or -1 if the log is empty."""
    log_dir = _log_dir(path)
    vs = list_versions(log_dir, _COMMIT_RE) + list_versions(log_dir, _CHECKPOINT_RE)
    return max(vs) if vs else -1


def _check_protocol(action: dict) -> None:
    p = action.get("protocol")
    if p and p.get("minReaderVersion", 1) > 1:
        raise DeltaProtocolError(
            f"table requires minReaderVersion={p['minReaderVersion']} "
            "(column mapping / deletion vectors are not implemented by "
            "this log replay) — read it with the Delta runtime instead"
        )


def _apply(live: dict, action: dict, meta: list) -> None:
    _check_protocol(action)
    if action.get("metaData"):
        meta.append(action["metaData"])
    add = action.get("add")
    if add:
        live[add["path"]] = add
        return
    rm = action.get("remove")
    if rm:
        live.pop(rm["path"], None)


def _replay_checkpoint(spark: SparkSession, cp_file: str, live: dict, meta: list) -> None:
    """A checkpoint parquet holds one row per accumulated action with
    `add` / `remove` / `metaData` / `protocol` struct columns (absent
    structs are NULL). Read via Spark, fold into the live-file map."""
    for row in spark.read.parquet(cp_file).collect():
        d = row.asDict(recursive=True)
        _apply(live, {k: v for k, v in d.items() if v is not None}, meta)


def _add_matches(add: dict, where) -> bool:
    """File-skip decision from the add action's ``stats`` JSON (protocol:
    numRecords/minValues/maxValues per column). No stats ⇒ must read."""
    import json as _json

    from .pruning import range_may_match

    stats = add.get("stats")
    if not stats:
        return True
    s = _json.loads(stats) if isinstance(stats, str) else stats
    mins = s.get("minValues") or {}
    maxs = s.get("maxValues") or {}
    for col, op, val in where:
        if not range_may_match(mins.get(col), maxs.get(col), op, val):
            return False
    return True


def delta_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: list[tuple] | None = None,
) -> tuple[int, list[str], dict]:
    """(version, absolute live data files, last metaData action) of a
    snapshot — the log replay itself, exposed for tests/inspection.
    ``where`` [(col, op, value), ...] prunes files via add.stats bounds
    (proof-based: files without stats are kept)."""
    log_dir = _log_dir(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"{path} is not a Delta table (no _delta_log)")
    head = latest_delta_version(path)
    v = head if version is None else version
    if v < 0 or v > head:
        raise FileNotFoundError(f"{path}: version {version} not in log (head={head})")

    live: dict[str, dict] = {}
    meta: list[dict] = []
    start = 0
    cps = [c for c in list_versions(log_dir, _CHECKPOINT_RE) if c <= v]
    if cps:
        cp = cps[-1]
        _replay_checkpoint(
            spark, os.path.join(log_dir, f"{cp:020d}.checkpoint.parquet"), live, meta
        )
        start = cp + 1
    needed = list(range(start, v + 1))
    have = [cv for cv in list_versions(log_dir, _COMMIT_RE) if start <= cv <= v]
    if have != needed:
        # log cleanup removed commits below the newest checkpoint: the
        # requested version cannot be reconstructed — raising beats
        # silently presenting a partial replay as a valid snapshot
        missing = sorted(set(needed) - set(have))
        raise FileNotFoundError(
            f"{path}: version {v} not reconstructible — commit files "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} missing "
            f"(vacuumed log?)"
        )
    for cv in have:
        with open(os.path.join(log_dir, f"{cv:020d}.json")) as f:
            for line in f:
                line = line.strip()
                if line:
                    _apply(live, json.loads(line), meta)
    from .pruning import check_where

    check_where(where)
    files = sorted(
        _data_path(path, p)
        for p, add in live.items()
        if not where or _add_matches(add, where)
    )
    return v, files, (meta[-1] if meta else {})


def _data_path(table_path: str, p: str) -> str:
    """Resolve an add/remove action path: the protocol stores RELATIVE
    paths URL-encoded (RFC 2396) — partition dirs with spaces/colons
    arrive as %20/%3A — or an absolute URI (Hadoop renders local ones
    as ``file:/abs`` with a single slash). Live-map KEYS stay raw
    (add and remove encode identically, so keying is self-consistent);
    decoding happens only here at filesystem resolution."""
    from urllib.parse import unquote

    from .pruning import resolve_local

    try:
        return resolve_local(unquote(p), table_path)
    except ValueError as exc:
        raise DeltaProtocolError(str(exc)) from exc


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Snapshot read of a Delta table (``version`` time-travels). The data
    scan is ordinary parquet with partition-column recovery anchored at the
    table root, so Catalyst's partition pruning / column pruning / filter
    pushdown apply exactly as on a native lake table.

    ``where`` [(col, op, value), ...] with op in ``= < <= > >=`` skips
    whole files via the commit log's per-file ``stats`` before Spark
    opens anything (Delta's data-skipping tier), then applies the
    residual predicate to the survivors."""
    v, files, meta_action = delta_snapshot(spark, path, version, where)
    if not files:
        if where:
            # everything pruned: an empty frame with the table schema
            from pyspark.sql.types import StructType

            schema_str = meta_action.get("schemaString", "")
            try:
                schema = StructType.fromJson(json.loads(schema_str))
            except Exception as exc:
                raise FileNotFoundError(
                    f"delta table {path}: all files pruned and schemaString "
                    f"unusable for an empty frame"
                ) from exc
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(f"delta table {path} has no live files at v{v}")
    reader = spark.read
    root = path.rstrip("/") + "/"
    if all(f.startswith(root) for f in files):
        # partition-dir recovery is anchored at the table root; files
        # addressed by absolute URIs OUTSIDE the root (legal per the
        # protocol) would make basePath reject the read
        reader = reader.option("basePath", path)
    df = reader.parquet(*files)
    from pyspark.sql import functions as F

    for col, op, val in where or []:
        c = F.col(col)
        df = df.where(
            {"=": c == val, "==": c == val, "<": c < val,
             "<=": c <= val, ">": c > val, ">=": c >= val}[op]
        )
    return df


def _parquet_stats_json(fp: str) -> str:
    """The add action's ``stats`` JSON (numRecords / minValues /
    maxValues) from the parquet footer — the data the reader's file
    skipping runs on. Only JSON-native value types are recorded
    (int/float/str/bool); columns without footer stats are omitted,
    which readers must treat as unbounded."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    mins: dict = {}
    maxs: dict = {}
    covered: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            if not isinstance(st.min, (int, float, str, bool)):
                continue
            name = col.path_in_schema
            covered[name] = covered.get(name, 0) + 1
            mins[name] = st.min if name not in mins else min(mins[name], st.min)
            maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
    # a column's bound is only valid if EVERY row group reported stats:
    # a chunk without stats (size-capped strings, NaN doubles) may hold
    # values outside the others' range, and emitting a partial bound
    # would let readers prune files that contain matching rows
    full = {n for n, c in covered.items() if c == md.num_row_groups}
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": {n: v for n, v in mins.items() if n in full},
            "maxValues": {n: v for n, v in maxs.items() if n in full},
        }
    )


def write_delta(df: DataFrame, path: str, mode: str = "append") -> int:
    """Minimal protocol-conformant Delta writer (append / overwrite of an
    unpartitioned table): immutable uniquely-named data batch + one
    atomically-published commit JSON per version. Commits use the same
    put-if-absent primitive as :class:`.manifest.ManifestTable` (Delta's
    own commit rule — exactly one writer wins ``N.json``), with
    optimistic retry recomputing the head (and, for overwrite, the remove
    set) on conflict. Emits protocol 1/2 + metaData on the first commit,
    so the table is readable by a real Delta runtime as well as
    :func:`read_delta`. Returns the committed version."""
    import time
    import uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession
    log_dir = _log_dir(path)
    os.makedirs(log_dir, exist_ok=True)

    batch = f"batch-{uuid.uuid4().hex}"
    df.write.parquet(os.path.join(path, batch))
    now_ms = int(time.time() * 1000)
    adds = [
        {
            "add": {
                "path": f"{batch}/{f}",
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(path, batch, f)),
                "modificationTime": now_ms,
                "dataChange": True,
                "stats": _parquet_stats_json(os.path.join(path, batch, f)),
            }
        }
        for f in sorted(os.listdir(os.path.join(path, batch)))
        if f.endswith(".parquet")
    ]

    def commit_payload(head: int) -> str:
        reschema, live = False, []
        if head >= 0:
            _, live, meta_action = delta_snapshot(spark, path, head)
            declared = meta_action.get("schemaString")
            if declared and declared != df.schema.json():
                if mode == "append":
                    # mixed-schema files behind one declared metaData
                    # would make reads serve whichever file's schema
                    # gets sampled
                    raise DeltaProtocolError(
                        "append schema differs from the table's metaData "
                        "schemaString; overwrite to change shape"
                    )
                # overwrite replaces every live file, so re-declaring the
                # schema is sound (protocol: last metaData wins)
                reschema = True
        actions: list[dict] = []
        if head < 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if head < 0 or reschema:
            actions.append(
                {
                    "metaData": {
                        "id": uuid.uuid4().hex,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": df.schema.json(),
                        "partitionColumns": [],
                        "configuration": {},
                        "createdTime": now_ms,
                    }
                }
            )
        if mode == "overwrite":
            actions.extend(
                {
                    "remove": {
                        "path": os.path.relpath(f, path),
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
                for f in live
            )
        actions.extend(adds)
        return "\n".join(json.dumps(a) for a in actions) + "\n"

    return commit_next(
        lambda: latest_delta_version(path),
        lambda v: os.path.join(log_dir, f"{v:020d}.json"),
        commit_payload,
        path,
    )
