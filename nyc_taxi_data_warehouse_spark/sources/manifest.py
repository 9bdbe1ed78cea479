"""Rename-free commit primitives — transactional tables for object stores.

:func:`sinks.atomic_overwrite` + :func:`sinks.writer_lock` (a kernel
``flock``) give Snowflake-MERGE-parity transactionality
(`dags/etl_spark_historical.py:292,349-386`) on local rename-atomic
filesystems. Object stores (S3/GCS/ABFS) have no atomic rename — but they
DO have atomic put-if-absent (S3 ``If-None-Match:*`` conditional PUT, GCS
``ifGenerationMatch=0`` preconditions), and that single primitive is
enough for a Delta/Iceberg-style commit protocol:

- data files are immutable and uniquely named (one ``batch-<uuid>/``
  directory per write, laid down by :func:`write_batch`) — writers never
  modify or rename anything;
- a table VERSION is the atomic creation of one commit file. Exactly one
  writer wins each version (put-if-absent); losers re-read the head and
  retry at the next one (:func:`commit_next`) — classic optimistic
  concurrency, no locks, no coordination service;
- readers list the commit files (:func:`list_versions`) and read
  precisely what one version references: a consistent snapshot
  regardless of in-flight writes, because nothing a committed version
  references is ever mutated.

Locally the put-if-absent is :func:`put_if_absent` (temp file, fsync,
``os.link``) — the same all-or-nothing contract, so every code path here
runs identically against a real object store with the put swapped behind
one function.  These are the engine's only commit primitives: the Delta
writer (:func:`.delta_read.write_delta`), the Iceberg writer and the
IVF-PQ index store publish through them.  Data a writer staged but never
committed is invisible to readers.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame

_MAX_COMMIT_RACES = 20


class CommitConflictError(RuntimeError):
    """Lost the optimistic-commit race more times than allowed."""


def put_if_absent(path: str, payload: str) -> bool:
    """Atomic create-if-not-exists with COMPLETE content — the object-store
    conditional PUT. Locally: write a private temp file, fsync, then
    ``os.link`` it into place (EEXIST if the key exists). The two-step
    matters: a bare O_EXCL create + write would let a crash leave an empty
    commit file that poisons every later head read, whereas a
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
    build: Callable[[int], str],
    table: str,
    max_retries: int = _MAX_COMMIT_RACES,
) -> int:
    """The optimistic-commit loop every versioned writer shares: resolve
    the head, ``build`` the payload against it, :func:`put_if_absent` it
    at ``target(head + 1)``; on a lost race back off (linear) and
    re-resolve. Returns the committed version; raises
    :class:`CommitConflictError` after ``max_retries`` losses."""
    for attempt in range(max_retries):
        base = head()
        if put_if_absent(target(base + 1), build(base)):
            return base + 1
        time.sleep(0.01 * (attempt + 1))
    raise CommitConflictError(
        f"{table}: lost {max_retries} optimistic-commit races"
    )


def write_batch(df: DataFrame, directory: str) -> list[str]:
    """Write ``df`` as one immutable, uniquely named ``batch-<uuid>``
    directory under ``directory`` and return its Parquet files, sorted:
    never a rename, never an overwrite of an existing key. Both lake
    writers (Delta, Iceberg) lay their data down here."""
    batch = os.path.join(directory, f"batch-{uuid.uuid4().hex}")
    df.write.parquet(batch)
    return sorted(
        os.path.join(batch, f) for f in os.listdir(batch) if f.endswith(".parquet")
    )

