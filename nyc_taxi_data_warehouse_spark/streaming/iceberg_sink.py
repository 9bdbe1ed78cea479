"""Streaming append sink into an Iceberg table with exactly-once
micro-batch commits.

Structured Streaming's `foreachBatch` gives at-least-once delivery: a
crash between a batch's side effect and the checkpoint advance replays
that batch id on restart. The standard transactional-sink recipe
(what the real Iceberg/Delta streaming sinks do) is to make the commit
IDEMPOTENT by recording the last committed (query, batch) in the
table's own transaction, so a replayed batch is recognized and skipped:

- the batch append and the watermark update land in ONE put-if-absent
  metadata commit (`sources/iceberg.py::write_iceberg` with
  ``properties``) — there is no state in which the data is in but the
  watermark is not;
- on entry the sink reads the table's ``stream.<query>.last-batch``
  property and returns without writing when ``batch_id`` ≤ it.

foreachBatch invocations of one query are serial, so the read-then-
commit pair needs no extra locking; a rogue concurrent writer still
cannot corrupt anything because one of the two colliding commits fails
on the put-if-absent metadata file.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..sources import iceberg


def last_committed_batch(table_path: str, query_name: str) -> int:
    """The newest batch id committed for `query_name`, or -1."""
    if not iceberg.is_iceberg_table(table_path):
        return -1
    meta = iceberg._load_metadata(table_path)
    return int(
        meta.get("properties", {}).get(f"stream.{query_name}.last-batch", -1)
    )


def foreach_batch_iceberg_append(
    table_path: str, query_name: str = "stream"
) -> Callable[[DataFrame, int], None]:
    """Build the `foreachBatch` function for exactly-once appends into
    `table_path`. Use with ``writeStream.foreachBatch(...)`` plus a
    checkpoint location; `query_name` namespaces the watermark so
    several queries can feed one table."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= last_committed_batch(table_path, query_name):
            return  # replayed batch: its rows are already in a snapshot
        mode = "append" if iceberg.is_iceberg_table(table_path) else "overwrite"
        iceberg.write_iceberg(
            batch_df,
            table_path,
            mode=mode,
            properties={f"stream.{query_name}.last-batch": str(batch_id)},
        )

    return append
