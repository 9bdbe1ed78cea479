"""SCD Type 2 snapshot operators (SURVEY §2.10).

Reference: two dbt snapshots on Snowflake —
- timestamp strategy, key (city, observed_at), change when `load_ts`
  advances, `invalidate_hard_deletes=True`
  (`snapshots/snp_weather_observations.sql:13-44`);
- check strategy, key `trip_date`, change when any of 6 check_cols differ
  (`snapshots/snp_daily_metrics.sql:13-58`).

Emitted metadata matches the dbt column contract (`snapshots/schema.yml`):
`dbt_scd_id, dbt_updated_at, dbt_valid_from, dbt_valid_to`.

Design: storage-agnostic pure functions — (current snapshot, source batch) →
new snapshot DataFrame. The caller persists (Delta MERGE where available;
overwrite-partition Parquet otherwise). Timestamps are injectable (`as_of`)
so runs are deterministic and testable. Each application is a single
full-outer join on the key — one shuffle, no driver loops.

One core, `_snapshot`, serves both strategies; each public function only
builds its `changed` test and its timestamps. A joined row's presence on
each side comes from a literal marker column (`t.__t`, `s.__s`), never
from probing value columns for NULL: a row whose `updated_at` or check
columns are NULL is still present, so it stays in history. A NULL
`changed` reads as false, as dbt's `>` comparison does.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime
from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.compat import surrogate_key

META = ("dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")


def _stamp(source: DataFrame, key: Sequence[str], updated_at_col) -> DataFrame:
    """Attach dbt snapshot metadata to source rows becoming current."""
    return source.select(
        "*",
        surrogate_key(*key, updated_at_col).alias("dbt_scd_id"),
        updated_at_col.cast("timestamp").alias("dbt_updated_at"),
        updated_at_col.cast("timestamp").alias("dbt_valid_from"),
        F.lit(None).cast("timestamp").alias("dbt_valid_to"),
    )


def _snapshot(
    current: DataFrame | None,
    source: DataFrame,
    key: Sequence[str],
    changed: F.Column,
    valid_from: F.Column,
    closed_at: F.Column,
    gone_at: F.Column | None = None,
) -> DataFrame:
    """The SCD2 merge both strategies share. On the joined frame, `changed`
    compares `s.<col>` with `t.<col>` and `closed_at` is the `dbt_valid_to`
    of a superseded open row; `valid_from` stamps the new versions from
    the source columns. `gone_at`, when given, closes the open rows whose
    key left the source (dbt `invalidate_hard_deletes`); without it they
    stay open."""
    if current is None:
        return _stamp(source, key, valid_from)

    closed = current.where(F.col("dbt_valid_to").isNotNull())
    open_rows = current.where(F.col("dbt_valid_to").isNull())
    cond = reduce(and_, [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key])
    j = open_rows.withColumn("__t", F.lit(True)).alias("t").join(
        source.withColumn("__s", F.lit(True)).alias("s"), cond, "full_outer"
    )
    tgt = F.col("t.__t").isNotNull()
    src = F.col("s.__s").isNotNull()
    newer = tgt & src & F.coalesce(changed, F.lit(False))

    def old(valid_to: F.Column) -> list[F.Column]:
        return [
            (valid_to if c == "dbt_valid_to" else F.col(f"t.{c}")).alias(c)
            for c in open_rows.columns
        ]

    still_open = old(F.col("t.dbt_valid_to"))
    parts = [closed, j.where(newer).select(*old(closed_at))]
    if gone_at is None:
        parts.append(j.where(tgt & ~newer).select(*still_open))
    else:
        parts.append(j.where(tgt & src & ~newer).select(*still_open))
        parts.append(j.where(tgt & ~src).select(*old(gone_at)))
    inserts = j.where(src & (~tgt | newer)).select(
        *[F.col(f"s.{c}").alias(c) for c in source.columns]
    )
    parts.append(_stamp(inserts, key, valid_from))
    return reduce(DataFrame.unionByName, parts)


def snapshot_timestamp(
    current: DataFrame | None,
    source: DataFrame,
    key: Sequence[str],
    updated_at: str,
    as_of: datetime | None = None,
    invalidate_hard_deletes: bool = False,
) -> DataFrame:
    """dbt timestamp-strategy snapshot: a key's row is superseded when a
    source row arrives with a strictly newer `updated_at`."""
    gone_at = None
    if invalidate_hard_deletes:
        gone_at = F.lit(as_of).cast("timestamp") if as_of else F.current_timestamp()
    new_ts = F.col(f"s.{updated_at}")
    return _snapshot(
        current, source, key,
        changed=new_ts > F.col("t.dbt_updated_at"),
        valid_from=F.col(updated_at),
        closed_at=new_ts.cast("timestamp"),
        gone_at=gone_at,
    )


def snapshot_check(
    current: DataFrame | None,
    source: DataFrame,
    key: Sequence[str],
    check_cols: Sequence[str],
    as_of: datetime,
) -> DataFrame:
    """dbt check-strategy snapshot: a key's row is superseded when any
    check column differs (NULL-safe); version timestamps come from the
    run time."""
    differs = [~F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}")) for c in check_cols]
    as_of_col = F.lit(as_of).cast("timestamp")
    return _snapshot(
        current, source, key,
        changed=reduce(or_, differs, F.lit(False)),
        valid_from=as_of_col,
        closed_at=as_of_col,
    )
