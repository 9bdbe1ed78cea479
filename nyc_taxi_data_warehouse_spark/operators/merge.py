"""Dedup-upsert and backfill operators.

Reference semantics: the hourly ingest MERGEs staged rows into the fact table
on a 6-column natural key, insert-only (`dags/etl_spark_historical.py:349-380`
— `WHEN NOT MATCHED THEN INSERT`); the weather backfill finds missing hours
with a LEFT JOIN … IS NULL anti-join (`dags/weather_historical_backfill.py:135-152`).

Spark-first design: insert-only MERGE ≡ `staging LEFT ANTI target` + union —
no Delta dependency, and at scale the anti-join shuffles only the key columns
(project-before-join) while AQE picks broadcast when the staged batch is
small (the common hourly-ingest case).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_insert_only(
    target: DataFrame, staging: DataFrame, key: Sequence[str]
) -> DataFrame:
    """Rows of target plus staged rows whose natural key is absent from target.

    Equality on the key follows SQL MERGE semantics (NULL keys never match,
    like the reference's Snowflake MERGE). Float key columns compare exactly —
    matching the reference, which MERGEs on FLOAT cols as-is.
    """
    new_rows = staging.join(
        target.select(*key).distinct(), on=list(key), how="left_anti"
    )
    return target.unionByName(new_rows)


def merge_into_path(
    spark, path: str, staging: DataFrame, key: Sequence[str]
) -> None:
    """``MERGE INTO <path> USING <staging> … WHEN NOT MATCHED THEN INSERT``
    against a parquet table directory, with the reference's Snowflake MERGE
    atomicity (`dags/etl_spark_historical.py:349-380`): the merged image is
    staged to a sibling path and swapped in by atomic rename
    (:func:`..sources.sinks.atomic_overwrite`), so a failure mid-write never
    corrupts the live table and concurrent readers see old-or-new, never a
    partial state. The swap holds the table's kernel writer lock
    (:func:`..sources.sinks.writer_lock`): a concurrent writer raises
    ``LeaseHeldError`` before writing anything. A swap a crashed writer
    left half done is repaired first (``recover_atomic_overwrite``), so
    the MERGE reads the committed image; with no image at all it raises
    ``FileNotFoundError``."""
    from ..sources.sinks import atomic_overwrite, recover_atomic_overwrite

    recover_atomic_overwrite(path)
    target = spark.read.parquet(path)
    atomic_overwrite(merge_insert_only(target, staging, key), path)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: Sequence[str],
    version_col: str,
) -> DataFrame:
    """SCD-Type-1 MERGE: ``WHEN MATCHED AND s.version >= t.version THEN
    UPDATE, WHEN NOT MATCHED THEN INSERT`` — the update-capable sibling of
    :func:`merge_insert_only` (reference MERGE is insert-only; SCD2 history
    lives in `operators/scd.py`; this is the overwrite-in-place point on
    that spectrum).

    Expressed shuffle-once: union both sides and keep the latest row per
    key by (`version_col`, source-wins tiebreak). One hash exchange on the
    key and no join at all — at scale this beats the join+union form (one
    exchange instead of two, no skew-sensitive probe side). Both sides must
    be key-unique, the usual MERGE precondition.
    """
    from pyspark.sql import Window

    allr = target.withColumn("__src", F.lit(0)).unionByName(
        source.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*key).orderBy(
        F.col(version_col).desc(), F.col("__src").desc()
    )
    return (
        allr.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def dedup_exact(df: DataFrame, key: Sequence[str], order_by: Sequence[str]) -> DataFrame:
    """Keep one row per natural key — deterministic first row by `order_by`.
    Hash-shuffle on the key; no global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key).orderBy(*[F.col(c).asc() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def missing_keys(universe: DataFrame, present: DataFrame, key: Sequence[str]) -> DataFrame:
    """Backfill gap list: distinct keys in `universe` absent from `present`
    (the J4 anti-join)."""
    return (
        universe.select(*key)
        .distinct()
        .join(present.select(*key).distinct(), on=list(key), how="left_anti")
    )


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    key: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """CDC-style snapshot reconciliation: classify every key across two
    table versions as ``added`` / ``removed`` / ``updated`` / ``unchanged``
    — the change feed an incremental consumer derives when the source has
    no log (the batch complement of the streaming MERGE path).

    FULL OUTER join on the key (one shuffle per side), pure-expression
    classification; ``updated`` means any compare column differs
    (null-safe: a value appearing or disappearing counts as a change).
    Returns key columns + ``change`` + ``<col>_old`` / ``<col>_new`` for
    each compare column — the downstream upsert/audit has everything it
    needs without re-reading either snapshot.
    """
    # explicit presence markers, NOT compare-column null probes: a present
    # row whose compare columns are all NULL must still read as present
    a = old.select(
        *key,
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"{c}_old") for c in compare_cols],
    )
    b = new.select(
        *key,
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"{c}_new") for c in compare_cols],
    )
    j = a.join(b, list(key), "full_outer")
    present_old = F.coalesce(F.col("__in_old"), F.lit(False))
    present_new = F.coalesce(F.col("__in_new"), F.lit(False))
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
    status = (
        F.when(~present_old & present_new, F.lit("added"))
        .when(present_old & ~present_new, F.lit("removed"))
        .when(changed, F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return j.withColumn("change", status).drop("__in_old", "__in_new")


def apply_changelog(
    log: DataFrame,
    key: Sequence[str],
    order_by: Sequence[str],
    delete_col: str,
) -> DataFrame:
    """Compact an ordered CDC change log into final table state — the
    Debezium/Kafka-log-compaction apply: per natural key, the op with the
    highest ``order_by`` (LSN) wins; a winning DELETE tombstones the key
    (no row in the output), a winning upsert contributes its payload.

    This is the third point on the MERGE spectrum (`merge_insert_only` =
    append-only ingest, `merge_upsert` = SCD1 without deletes, this =
    full log apply WITH hard deletes), and the batch twin of the
    reference's incremental-consumer story.  Shape: one hash exchange on
    the key, per-key window top-1, no join — identical scaling to
    `dedup_exact`/`merge_upsert`; tombstoned history never crosses the
    shuffle twice.  ``order_by`` must be unique per key (e.g. (ts,
    event_id)) so the winner — and the output — is deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key).orderBy(
        *[F.col(c).desc() for c in order_by]
    )
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (~F.col(delete_col)))
        .drop("__rn")
    )
