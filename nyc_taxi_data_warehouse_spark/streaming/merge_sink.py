"""Streaming MERGE sink: idempotent upsert of micro-batches into a lake table.

The streaming face of the reference's hourly MERGE ingest
(`dags/etl_spark_historical.py:349-380`): each micro-batch left-anti-joins
the natural key against the live table and appends only unseen rows, and the
new table image is swapped in atomically
(:func:`..sources.sinks.atomic_overwrite`, under the table's kernel writer
lock), so at-least-once delivery of a batch inserts nothing twice and a
mid-batch crash never corrupts the table: the next batch first repairs a
swap the crash left half done, so a committed image is never mistaken for a
missing table.
Use with ``writeStream.foreachBatch(...)``; exactly-once then follows from
idempotence + checkpointed offsets.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from ..operators.merge import merge_into_path
from ..sources.sinks import recover_atomic_overwrite


def foreach_batch_merge(
    target_path: str, key: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """Build the `foreachBatch` function for a streaming dedup-upsert into
    `target_path` on the natural `key`. Rows are deduped inside the batch
    first (one canonical row per key per batch)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates(list(key))
        try:
            recover_atomic_overwrite(target_path)
        except FileNotFoundError:  # no live, stage or gc image: a new table
            batch.write.parquet(target_path)
        else:
            merge_into_path(batch.sparkSession, target_path, batch, key)

    return upsert
