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
- Codegen cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``) — Spark's default keeps 100 generated
  classes, fewer than one pass of a six-query BI mix compiles, so a warm
  session would keep evicting and recompiling them.
- HotSpot's C2 thresholds raised fourfold (``JIT_OPTIONS``) — a session
  here runs a few seconds of small jobs over a large body of Spark code,
  and most of that code is lukewarm: planner rules, ML fits, readers and
  writers that run a few thousand times each. At JDK 17's defaults the
  JIT compilers took two thirds as much time as the whole ELT refresh
  spent on CPU, mostly compiling such methods to C2; at four times the
  thresholds they stay at C1, and the per-row loops that really are hot
  still reach C2. The JIT tier changes no result (JDK 17 floating point
  is always strict, JEP 306).
- Stream checkpoints through ``FileSystemBasedCheckpointFileManager``.
  Spark's default ``FileContextBasedCheckpointFileManager`` renames each
  offset, commit and state file through Hadoop's local ``FileContext``,
  which without native Hadoop libraries forks ``chmod``/``readlink``
  shell commands — hundreds per drain. The FileSystem-based manager
  writes a temp file and renames it into place; that rename is atomic on
  a local POSIX file system, and every checkpoint the engine writes is
  local (a ``session_tmpdir`` or the memory sink's temp dir). It is NOT a
  safe choice for object stores, whose rename is a non-atomic copy:
  there, set the conf back to Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# spark.sql.codegen.cache.maxEntries (static; Spark's default is 100): the
# generated classes the JVM keeps compiled. Measured working sets: the
# six-query analyst mix 112 classes at sf0.001 (116 on the benchmark's
# sf0.01 inputs), the ELT set-up plus refresh 320, the full 330-query
# registry in one session at sf0.001 about 5,800. Each costs under 20 KB
# of metaspace: 145 MB after the analyst mix, 254 MB after the registry.
# 8192 holds a whole registry pass, so a warm session recompiles only
# the queries whose generated code differs from run to run.
CODEGEN_CACHE_ENTRIES = 8192
# HotSpot's four C2 (tier 4) thresholds at 4x their JDK 17 defaults
# (5000, 600, 15000, 40000). Passed as spark.driver.defaultJavaOptions,
# which Spark puts before spark.driver.extraJavaOptions, so a caller's
# --conf extraJavaOptions adds to these instead of replacing them.
# Measured on 4 vCPU against the defaults, medians of the benchmark's ELT
# refresh: JIT compile time 34.6 -> 20.0 s, process CPU 47.7 -> 36.5 s.
# 10x saved as much CPU on the refresh but made the
# execute-bound q_prefix_filter_pairs about 1 s slower at sf0.1; C1 only
# (TieredStopAtLevel=1) made the sf0.1 pair joins 2-3x slower.
JIT_OPTIONS = " ".join([
    "-XX:Tier4InvocationThreshold=20000",
    "-XX:Tier4MinInvocationThreshold=2400",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=160000",
])


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


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compile count); a codegen-cache hit adds nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def jit_compile_ms(spark: SparkSession) -> int:
    """Milliseconds this JVM's JIT compilers have spent so far (the
    ``CompilationMXBean`` total, summed over compiler threads)."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    return mgmt.getCompilationMXBean().getTotalCompilationTime()


# Runtime-settable conf: every session the engine runs on gets it,
# whether get_spark built it or a caller handed it to configure_runtime.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-partition CACHED plan output too (default false).
    # persist() otherwise pins the InMemoryRelation at the static
    # shuffle-partition count, so every persisted KB-scale frame
    # (signatures, truth sets, store snapshots) materializes 32
    # partitions and every downstream stage pays 32 near-empty
    # tasks — measured 2.1 s → 1.0 s on the ingest-dedup near leg
    # alone (guide §2.2: fewer, larger partitions; the setting is
    # scale-adaptive by construction — big caches keep their
    # parallelism, only runtime-small ones coalesce).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's reader rejects parquet TIMESTAMP(NANOS); read such columns
    # as long (ns) and convert in load_tables.  The shipped sf dirs store
    # events.ts as TIMESTAMP(MICROS), which needs no conversion.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # atomic rename on the local file system, no forked shell commands
    # (module docstring)
    "spark.sql.streaming.checkpointFileManagerClass": "org.apache.spark.sql."
    "execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
}


def get_spark(
    app_name: str = "nyc-taxi-dw-spark",
    master: str | None = None,
) -> SparkSession:
    if master is None:
        master = f"local[{default_cpus()}]"
    conf = {
        **RUNTIME_CONF,
        # static conf, fixed when the JVM starts
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.ui.enabled": "false",
        "spark.driver.memory": default_driver_mem(),
        "spark.driver.defaultJavaOptions": JIT_OPTIONS,
    }
    builder = SparkSession.builder.appName(app_name).master(master)
    return builder.config(map=conf).getOrCreate()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply :data:`RUNTIME_CONF` to an externally-created session.

    The correctness driver hands us its own SparkSession; timestamp
    semantics (naive/UTC) and AQE must hold there too.
    ``nyc_views.load_tables`` applies it on its first call per (session,
    sf_dir), so conf a caller sets afterwards stays. Static conf is
    fixed when the JVM starts, so such a session keeps Spark's 100-entry
    codegen cache and the JVM's default JIT thresholds
    (``CODEGEN_CACHE_ENTRIES`` and ``JIT_OPTIONS`` apply only to
    ``get_spark`` sessions).
    """
    for key, value in RUNTIME_CONF.items():
        spark.conf.set(key, value)
    return spark
