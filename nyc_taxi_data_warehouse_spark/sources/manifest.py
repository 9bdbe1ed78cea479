"""Rename-free manifest-commit table — transactional parquet for object
stores.

:func:`sinks.atomic_overwrite` + :class:`sinks.WriterLease` give
Snowflake-MERGE-parity transactionality (`dags/etl_spark_historical.py:
292,349-386`) on rename-atomic filesystems (POSIX, HDFS). Object stores
(S3/GCS/ABFS) have no atomic rename — but they DO have atomic
put-if-absent (S3 ``If-None-Match:*`` conditional PUT, GCS
``ifGenerationMatch=0`` preconditions), and that single primitive is
enough for a Delta/Iceberg-style commit protocol:

- data files are immutable and uniquely named (one ``data/batch-<uuid>/``
  directory per write) — writers never modify or rename anything;
- a table VERSION is the atomic creation of ``_commits/v{N}.json``
  holding the complete file list.  Exactly one writer wins each N
  (put-if-absent); losers re-read the head and retry at N+1 — classic
  optimistic concurrency, no locks, no coordination service;
- readers list ``_commits``, take the max N, and read precisely that
  manifest's files: a consistent snapshot regardless of in-flight writes,
  because nothing a committed manifest references is ever mutated.

Locally the put-if-absent is :func:`put_if_absent` (temp file, fsync,
``os.link``) — the same all-or-nothing contract, so every code path here
runs identically against a real object store with the put swapped behind
one function.  It is the engine's only commit primitive: the Delta
writer, the Iceberg writer, the IVF-PQ index store and
:class:`.sinks.WriterLease` publish through it too, and the versioned
ones share :func:`commit_next` (the optimistic loop) and
:func:`list_versions` (the head listing).

Orphans (data written by a writer that crashed before committing, or
files dropped by an ``overwrite``) are invisible to readers and reclaimed
by :meth:`ManifestTable.vacuum`, which keeps the trailing ``keep_versions``
manifests for time-travel/slow readers — mirroring Delta's VACUUM
retention contract.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_COMMITS = "_commits"
_DATA = "data"
_VERSION_RE = re.compile(r"^v(\d+)\.json$")
_MAX_COMMIT_RACES = 20


class CommitConflictError(RuntimeError):
    """Lost the optimistic-commit race more times than allowed."""


def put_if_absent(path: str, payload: str) -> bool:
    """Atomic create-if-not-exists with COMPLETE content — the object-store
    conditional PUT. Locally: write a private temp file, fsync, then
    ``os.link`` it into place (EEXIST if the key exists). The two-step
    matters: a bare O_EXCL create + write would let a crash leave an empty
    ``v{N}.json`` that poisons ``latest_version`` forever, whereas a
    linked file is complete the instant it becomes visible — matching a
    conditional PUT, which is all-or-nothing by construction."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        with os.fdopen(fd, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def list_versions(directory: str, pattern: re.Pattern) -> list[int]:
    """Sorted versions of the files in ``directory`` whose names match
    ``pattern`` (group 1 is the version); ``[]`` if the directory does
    not exist. Patterns are anchored, so in-flight ``*.tmp.*`` files of
    :func:`put_if_absent` never count."""
    if not os.path.isdir(directory):
        return []
    return sorted(
        int(m.group(1)) for n in os.listdir(directory) if (m := pattern.match(n))
    )


def commit_next(
    head: Callable[[], int],
    target: Callable[[int], str],
    build: Callable[[int], str | None],
    table: str,
    max_retries: int = _MAX_COMMIT_RACES,
) -> int:
    """The optimistic-commit loop every versioned writer shares: resolve
    the head, ``build`` the payload against it, :func:`put_if_absent` it
    at ``target(head + 1)``; on a lost race back off (linear) and
    re-resolve. ``build`` returns ``None`` when its base vanished under
    it (the head has moved on), which counts as a lost race. Returns the
    committed version; raises :class:`CommitConflictError` after
    ``max_retries`` losses."""
    for attempt in range(max_retries):
        base = head()
        payload = build(base)
        if payload is not None and put_if_absent(target(base + 1), payload):
            return base + 1
        time.sleep(0.01 * (attempt + 1))
    raise CommitConflictError(
        f"{table}: lost {max_retries} optimistic-commit races"
    )


class ManifestTable:
    def __init__(self, path: str, max_retries: int = _MAX_COMMIT_RACES):
        self.path = path.rstrip("/")
        self.commits_dir = os.path.join(self.path, _COMMITS)
        self.data_dir = os.path.join(self.path, _DATA)
        self.max_retries = max_retries
        os.makedirs(self.commits_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- versions -----------------------------------------------------------

    def latest_version(self) -> int:
        """Highest committed version, or -1 for an empty table."""
        vs = list_versions(self.commits_dir, _VERSION_RE)
        return vs[-1] if vs else -1

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self.commits_dir, f"v{version}.json")) as f:
            return json.load(f)

    def files(self, version: int | None = None) -> list[str]:
        """The immutable file list of a committed snapshot.

        Head reads (``version=None``) re-resolve on FileNotFoundError: a
        concurrent ``vacuum`` may delete the manifest between the listing
        and the read, in which case a NEWER manifest necessarily exists
        (vacuum keeps the trailing ``keep_versions``) — retry against it
        instead of surfacing a spurious crash. An explicitly requested
        version that was vacuumed is a genuine error and propagates."""
        if version is not None:
            if version < 0:
                return []
            return self._manifest(version)["files"]
        for attempt in range(max(self.max_retries, 1)):
            v = self.latest_version()
            if v < 0:
                return []
            try:
                return self._manifest(v)["files"]
            except FileNotFoundError:  # vacuumed under us; head moved on
                time.sleep(0.01 * (attempt + 1))
                continue
        raise FileNotFoundError(
            f"{self.path}: head manifest kept vanishing across "
            f"{max(self.max_retries, 1)} reads (vacuum churn?)"
        )

    # -- read ---------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read: exactly the files of one committed manifest.
        ``version`` time-travels to an older (un-vacuumed) snapshot."""
        files = self.files(version)
        if not files:
            raise FileNotFoundError(f"manifest table {self.path} has no commits")
        return spark.read.parquet(*files)

    # -- write --------------------------------------------------------------

    def _write_batch(self, df: DataFrame) -> list[str]:
        """One immutable uniquely-named batch directory per write — never a
        rename, never an overwrite of an existing key."""
        batch = os.path.join(self.data_dir, f"batch-{uuid.uuid4().hex}")
        df.write.parquet(batch)
        return sorted(
            os.path.join(batch, f)
            for f in os.listdir(batch)
            if f.endswith(".parquet")
        )

    def _commit(self, build_files, op: str) -> int:
        """Commit the file list :func:`commit_next` builds against the
        current head. ``build_files`` maps the loser's refreshed base file
        list → the new full list, so concurrent appends compose instead of
        clobbering."""

        def payload(base_version: int) -> str | None:
            try:
                base = self.files(base_version)
            except FileNotFoundError:
                # a concurrent vacuum deleted the base manifest between the
                # head listing and the read — the head has necessarily moved
                # on; re-resolve and retry instead of crashing the committer
                return None
            return json.dumps(
                {
                    "version": base_version + 1,
                    "op": op,
                    "files": build_files(base),
                    "committed_at": time.time(),
                }
            )

        return commit_next(
            self.latest_version,
            lambda v: os.path.join(self.commits_dir, f"v{v}.json"),
            payload,
            self.path,
            self.max_retries,
        )

    def overwrite(self, df: DataFrame) -> int:
        """Full-table replace. Returns the committed version."""
        new = self._write_batch(df)
        return self._commit(lambda base: new, "overwrite")

    def append(self, df: DataFrame) -> int:
        """Append a batch. Concurrent appends both land (the loser's retry
        recomputes against the winner's manifest). Returns the version."""
        new = self._write_batch(df)
        return self._commit(lambda base: base + new, "append")

    # -- maintenance --------------------------------------------------------

    def vacuum(
        self, keep_versions: int = 1, retention_seconds: float = 86400.0
    ) -> list[str]:
        """Delete data files unreferenced by the trailing ``keep_versions``
        manifests (and drop older manifests): orphans from crashed writers
        and overwritten snapshots. Returns the deleted file paths.

        ``retention_seconds`` protects IN-FLIGHT writers: a batch younger
        than the threshold may belong to a live `append`/`overwrite` that
        has staged its data but not yet committed — deleting it would make
        the upcoming commit publish dangling files (the reason Delta's
        VACUUM has a retention period). The same gate applies to MANIFEST
        deletion: a committer/reader that resolved the head just before
        this vacuum may still be about to read an old manifest, so only
        manifests older than the retention window are dropped (they retry
        against the new head regardless — see :meth:`files` — but the gate
        keeps the common path collision-free). Size it above the longest
        write job; tests pass 0 for immediacy."""
        import shutil

        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        vs = list_versions(self.commits_dir, _VERSION_RE)
        cutoff = time.time() - retention_seconds
        # decide the surviving manifest set FIRST, then keep every file any
        # survivor references: a superseded manifest inside the retention
        # window keeps its data too, so time-travel reads of it can never
        # return dangling paths (and a crash mid-pass leaves only orphans —
        # reclaimed next vacuum — never a manifest pointing at deleted data)
        doomed = [
            v
            for v in vs[: max(0, len(vs) - keep_versions)]
            if os.path.getmtime(os.path.join(self.commits_dir, f"v{v}.json"))
            <= cutoff
        ]
        live: set[str] = set()
        for v in vs:
            if v not in doomed:
                live.update(self._manifest(v)["files"])
        deleted = []
        for batch in os.listdir(self.data_dir):
            bdir = os.path.join(self.data_dir, batch)
            members = [
                os.path.join(bdir, f)
                for f in os.listdir(bdir)
                if f.endswith(".parquet")
            ]
            if (
                members
                and not any(m in live for m in members)
                and os.path.getmtime(bdir) <= cutoff
            ):
                deleted.extend(members)
                shutil.rmtree(bdir)
        for v in doomed:
            os.unlink(os.path.join(self.commits_dir, f"v{v}.json"))
        return sorted(deleted)
