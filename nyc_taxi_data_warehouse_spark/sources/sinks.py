"""Sinks (SURVEY §2.1) — the 100 TB-aware replacements for the reference's
CSV-détour + Snowflake stage pipeline.

The reference writes `coalesce(1)` single-file CSV then PUT/COPYs it into
Snowflake (`dags/etl_spark_historical.py:199-207,319-347`) — an anti-scale
choice called out in SURVEY §4. The engine's native path is date-partitioned
parquet: partition pruning makes every time-ranged query skip irrelevant
files, and writers parallelize per partition.
"""

from __future__ import annotations

import fcntl
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_by_date(
    df: DataFrame,
    path: str,
    ts_col: str,
    date_col: str = "p_date",
) -> None:
    """Lake-table write partitioned by event date — the engine's fact-table
    layout; replaces any table at ``path``. At 100 TB this yields ~1 partition/day/shuffle-task; combine with
    AQE coalescing to avoid small files."""
    (
        df.withColumn(date_col, F.to_date(ts_col))
        .write.mode("overwrite")
        .partitionBy(date_col)
        .parquet(path)
    )


def overwrite_date_partitions(
    df: DataFrame,
    path: str,
    ts_col: str,
    date_col: str = "p_date",
) -> None:
    """Incremental mart refresh (the reference lists 'incremental models' as
    future work — `README.md:375`): dynamic partition overwrite replaces
    ONLY the date partitions present in `df`, leaving every other partition
    untouched. This is how a daily transform reprocesses late-arriving days
    at 100 TB without rewriting the table. The mode is a per-write
    option, so the session conf (and any concurrent writer) is untouched."""
    (
        df.withColumn(date_col, F.to_date(ts_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(date_col)
        .parquet(path)
    )


def write_single_csv(df: DataFrame, path: str) -> None:
    """Reference-compat single-file CSV sink (S4,
    `dags/etl_spark_historical.py:199-207`). Kept only for parity/export of
    small results — scale path is :func:`write_partitioned_by_date`."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        # quote-doubling escape, matching the stage file format the reference
        # COPYs with (S5: FIELD_OPTIONALLY_ENCLOSED_BY='"') and our reader
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def append(df: DataFrame, path: str) -> None:
    """Append-mode event sink (weather feed, S12)."""
    df.write.mode("append").parquet(path)


def compact(spark, path: str, target_files: int) -> int:
    """Small-files compaction: rewrite a table directory down to
    `target_files` files (hourly appends leave one tiny file per batch; at
    scale the metadata and open-cost of millions of small files dominates
    scan time). Uses the :func:`atomic_overwrite` stage/rename protocol, so
    readers never observe a missing or partial table and a mid-rewrite crash
    is recoverable. Returns the resulting file count."""
    df = spark.read.parquet(path).repartition(target_files)
    atomic_overwrite(df, path.rstrip("/"))
    return len(spark.read.parquet(path).inputFiles())


_STAGE_SUFFIX = ".__stage"
_GC_SUFFIX = ".__gc"
_LEASE_SUFFIX = ".__lease"


class LeaseHeldError(RuntimeError):
    """Another writer holds the table path's writer lock."""


@contextmanager
def writer_lock(path: str):
    """Single-writer lock for a path-based table — the concurrency half of
    :func:`atomic_overwrite`'s transactionality (the reference gets both
    from a Snowflake transaction, `dags/etl_spark_historical.py:292,349-386`;
    a filesystem lake has to build them).

    A non-blocking exclusive ``flock`` on ``<path>.__lease``. The lock
    belongs to the open file description, so a rival in another thread of
    this process is refused exactly like one in another process: it raises
    :class:`LeaseHeldError` at once, having touched nothing. The kernel
    drops the lock when the holder closes the file or its process dies, so
    a crashed writer frees the table immediately and a live holder's lock
    can never be taken from it.

    The lock file is never unlinked: a rival may already hold it open, and
    unlinking it would let the next writer create and lock a fresh inode
    while the rival still holds the old one — two writers at once.
    """
    fd = os.open(path + _LEASE_SUFFIX, os.O_RDWR | os.O_CREAT, 0o644)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise LeaseHeldError(f"{path} is locked by another writer") from None
        yield
    finally:
        os.close(fd)


def _recover(path: str) -> str:
    """Repair an interrupted swap of ``path``; the caller holds
    :func:`writer_lock` (a second ``flock`` here, on a new descriptor,
    would refuse the caller itself)."""
    stage, gc = path + _STAGE_SUFFIX, path + _GC_SUFFIX
    if os.path.exists(path):
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(gc, ignore_errors=True)
        return "noop"
    if os.path.exists(os.path.join(stage, "_SUCCESS")):
        os.rename(stage, path)
        shutil.rmtree(gc, ignore_errors=True)
        return "promoted-stage"
    if os.path.exists(gc):
        os.rename(gc, path)
        shutil.rmtree(stage, ignore_errors=True)
        return "restored-old"
    raise FileNotFoundError(f"no live, stage, or gc image for {path}")


def atomic_overwrite(df: DataFrame, path: str) -> None:
    """Transactional table replace for a path-based parquet table — the
    engine's stand-in for the atomicity of the reference's Snowflake
    ``MERGE INTO`` (`dags/etl_spark_historical.py:349-380`).

    Protocol (a local rename-atomic filesystem):

    0. repair any swap a crashed writer left half done (the same step as
       :func:`recover_atomic_overwrite`), so a committed stage image is
       promoted rather than deleted;
    1. write the complete new image to ``<path>.__stage`` — a crash here
       leaves the live table untouched;
    2. rename live → ``<path>.__gc``  (atomic);
    3. rename stage → live           (atomic);
    4. drop the old image.

    Readers observe either the old or the new complete table, never a
    partial write. A crash between 2 and 3 leaves no live directory but
    both images intact — :func:`recover_atomic_overwrite` (or the next
    writer's step 0) repairs it.
    Because the new image is written while the old files still exist, the
    input DataFrame MAY read from ``path`` itself (read-merge-overwrite),
    which a plain ``mode("overwrite")`` to the same path cannot do.
    Object stores without atomic rename need a manifest/table format
    (Delta/Iceberg) — these operator interfaces stay storage-agnostic so
    that can slot in.

    Concurrency: the whole protocol runs under :func:`writer_lock`. A
    concurrent writer raises :class:`LeaseHeldError` before writing
    anything, so racing jobs can never interleave their renames and
    last-rename-wins data loss cannot occur.
    """
    with writer_lock(path):
        stage, gc = path + _STAGE_SUFFIX, path + _GC_SUFFIX
        try:
            _recover(path)
        except FileNotFoundError:
            pass  # a new table
        try:
            df.write.mode("overwrite").parquet(stage)
        except Exception:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        if not os.path.exists(os.path.join(stage, "_SUCCESS")):
            shutil.rmtree(stage, ignore_errors=True)
            raise RuntimeError(f"stage write of {path} finished without _SUCCESS")
        if os.path.exists(path):
            os.rename(path, gc)
        os.rename(stage, path)
        shutil.rmtree(gc, ignore_errors=True)


def recover_atomic_overwrite(path: str) -> str:
    """Repair an interrupted :func:`atomic_overwrite`. Returns the action
    taken: ``'promoted-stage'`` (crash after the live table was moved aside
    and the stage image is complete), ``'restored-old'`` (stage incomplete),
    or ``'noop'`` (live table present); raises ``FileNotFoundError`` if no
    image exists at all.

    Recovery takes the same :func:`writer_lock` as the writer: repairing
    while a live writer is mid-swap would wrongly judge its in-flight
    stage/gc images, so a held lock raises :class:`LeaseHeldError` — retry
    after the writer finishes (or dies, which frees the lock at once)."""
    with writer_lock(path):
        return _recover(path)


def read_with_schema_evolution(spark, path: str) -> DataFrame:
    """Union-schema read across files written at different schema versions
    (`mergeSchema`): late-added columns surface as NULL for old files —
    the append-only lake's answer to ALTER TABLE ADD COLUMN."""
    return spark.read.option("mergeSchema", "true").parquet(path)
