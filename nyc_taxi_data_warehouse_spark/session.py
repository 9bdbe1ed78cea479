"""SparkSession factory.

Reference builds an ad-hoc ``local[*]`` session per Airflow task
(``dags/etl_spark_historical.py:170-175``). Here one factory owns every
scale-relevant knob so plans behave the same from pytest to a real cluster:

- UTC session timezone — the reference stores TIMESTAMP_NTZ everywhere
  (naive timestamps); UTC makes Spark's timestamp arithmetic match the
  naive semantics of the DuckDB oracle and of Snowflake NTZ.
- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  at 100 TB the static shuffle-partition count is always wrong; AQE
  re-plans from runtime statistics.
- Arrow enabled — every Python-boundary crossing (pandas UDFs,
  ``toPandas``) is Arrow-batched, never row-at-a-time pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else 16g capped at half the host's
    physical memory (the other half is left to the OS and Python)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, host_mb // 2)}m"


def get_spark(
    app_name: str = "nyc-taxi-dw-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    if master is None:
        master = f"local[{default_cpus()}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-partition CACHED plan output too (default false).
        # persist() otherwise pins the InMemoryRelation at the static
        # shuffle-partition count, so every persisted KB-scale frame
        # (signatures, truth sets, store snapshots) materializes 32
        # partitions and every downstream stage pays 32 near-empty
        # tasks — measured 2.1 s → 1.0 s on the ingest-dedup near leg
        # alone (guide §2.2: fewer, larger partitions; the setting is
        # scale-adaptive by construction — big caches keep their
        # parallelism, only runtime-small ones coalesce).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", default_driver_mem())
    )
    return builder.getOrCreate()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-created session.

    The correctness driver hands us its own SparkSession; timestamp
    semantics (naive/UTC) and AQE must hold there too. Only
    runtime-mutable keys belong here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
    except Exception:
        pass  # static on some builds; only affects cached-plan task counts
    # Spark's reader rejects parquet TIMESTAMP(NANOS); read such columns as
    # long (ns) and convert in load_tables.  The shipped sf dirs store
    # events.ts as TIMESTAMP(MICROS), which needs no conversion.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
        )
    except Exception:
        pass  # not runtime-settable on some builds; AQE coalescing covers it
    return spark
