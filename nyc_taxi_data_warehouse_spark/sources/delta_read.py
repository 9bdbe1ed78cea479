"""Delta Lake table support — log replay per the public Delta
transaction protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md)
and a minimal writer.

:mod:`.sinks` is the engine's rename-atomic table swap; this module is
its versioned table format.  :func:`write_delta` commits through the
:mod:`.manifest` primitives (the near-dup signature store is written
this way), and :func:`read_delta` lets a user POINT the engine at an
existing Delta table — the interop gap a warehouse migration actually
hits — without requiring the delta-spark runtime jar:

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
from datetime import date

from pyspark.sql import DataFrame, SparkSession

from .manifest import commit_next, list_versions, write_batch
from .pruning import (
    apply_where,
    check_where,
    footer_bounds,
    range_may_match,
    resolve_local,
)

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
    stats = add.get("stats")
    if not stats:
        return True
    s = json.loads(stats) if isinstance(stats, str) else stats
    mins = s.get("minValues") or {}
    maxs = s.get("maxValues") or {}
    for col, op, val in where:
        lo, hi = mins.get(col), maxs.get(col)
        if type(val) is date:  # the protocol records dates as YYYY-MM-DD
            lo, hi = _stat_date(lo), _stat_date(hi)
        if not range_may_match(lo, hi, op, val):
            return False
    return True


def _stat_date(v):
    """A ``YYYY-MM-DD`` stats value as a ``date``; anything else (absent,
    or not a plain date string) reads as unbounded."""
    try:
        return date.fromisoformat(v)
    except (TypeError, ValueError):
        return None


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
    return apply_where(reader.parquet(*files), where)


def _parquet_stats_json(fp: str) -> str:
    """The add action's ``stats`` JSON (numRecords / minValues /
    maxValues) from :func:`.pruning.footer_bounds` — the data the
    reader's file skipping runs on. JSON-native value types are recorded
    as they are (int/float/str/bool) and dates as ``YYYY-MM-DD`` strings,
    as the protocol writes them; other columns (timestamps among them)
    are omitted, which readers must treat as unbounded."""
    n, bounds = footer_bounds(fp)
    recorded = {
        c: b for c, b in bounds.items() if isinstance(b[0], (int, float, str, bool))
    }
    recorded.update(
        (c, (lo.isoformat(), hi.isoformat()))
        for c, (lo, hi) in bounds.items()
        if type(lo) is date  # not datetime, a subclass of date
    )
    return json.dumps(
        {
            "numRecords": n,
            "minValues": {c: lo for c, (lo, _) in recorded.items()},
            "maxValues": {c: hi for c, (_, hi) in recorded.items()},
        }
    )


def write_delta(df: DataFrame, path: str, mode: str = "append") -> int:
    """Minimal protocol-conformant Delta writer (append / overwrite of an
    unpartitioned table): immutable uniquely-named data batch
    (:func:`.manifest.write_batch`) + one atomically-published commit
    JSON per version. Commits go through :func:`.manifest.commit_next`
    (put-if-absent, Delta's own commit rule — exactly one writer wins
    ``N.json``), whose optimistic retry recomputes the head (and, for
    overwrite, the remove set) on conflict. Emits protocol 1/2 +
    metaData on the first commit, so the table is readable by a real
    Delta runtime as well as :func:`read_delta`. A batch written but
    never committed stays invisible to readers. Returns the committed
    version, starting at 0; ``dedup.neardup_store_ingest`` appends its
    signature records through here."""
    import time
    import uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession
    log_dir = _log_dir(path)
    os.makedirs(log_dir, exist_ok=True)

    files = write_batch(df, path)
    now_ms = int(time.time() * 1000)
    adds = [
        {
            "add": {
                "path": os.path.relpath(fp, path),
                "partitionValues": {},
                "size": os.path.getsize(fp),
                "modificationTime": now_ms,
                "dataChange": True,
                "stats": _parquet_stats_json(fp),
            }
        }
        for fp in files
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
