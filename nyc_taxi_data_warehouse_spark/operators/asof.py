"""As-of and interval joins — the time-series joins Spark has no native
operator for, expressed in their shuffle-friendly formulations.

- `asof_join_latest`: each probe row matches the LATEST observation at or
  before its timestamp (optionally within a tolerance). Implemented as the
  classic union-sort trick: tag both sides, union, and carry the last
  observation forward with one per-series window — ONE sort-shuffle total,
  no per-row search, no quadratic join. (The reference approximates this
  with an hour-bucket equi-join, `models/marts/mart_trips_weather.sql:36-39`;
  this is the exact-semantics generalization.)
- `interval_overlap_join`: match rows whose [start, end] interval overlaps
  a set of periods. The naive inequality join degenerates to a nested-loop
  cross product; the scale formulation explodes each interval into its
  covered time buckets and equi-joins on the bucket, then dedupes —
  turning an O(n·m) theta join into a shuffle join whose cost tracks
  actual overlap density.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_latest(
    probes: DataFrame,
    observations: DataFrame,
    probe_ts: str,
    obs_ts: str,
    value_cols: list[str],
    tolerance_minutes: int | None = None,
    series_cols: list[str] | None = None,
) -> DataFrame:
    """LEFT as-of join (single series): every probe row gains the value
    columns of the latest observation with `obs_ts` <= `probe_ts`; NULL
    when none exists (or the match is older than the tolerance).

    Ties at the exact same timestamp count as matches (observation sorts
    before the probe via the is_obs flag).

    Observations are pre-reduced to ONE row per (series, obs_ts) — the
    column-wise MAX of each value column — so equal-timestamp duplicates
    within a series resolve deterministically (F.last over an arbitrary
    physical order would otherwise pick a run-dependent winner).  Oracles
    must mirror the same GROUP BY obs_ts / max() reduction.
    """
    series_cols = list(series_cols or [])
    observations = observations.groupBy(*series_cols, obs_ts).agg(
        *[F.max(c).alias(c) for c in value_cols]
    )
    obs = observations.select(
        *series_cols,
        F.col(obs_ts).alias("__ts"),
        F.lit(1).alias("__is_obs"),
        F.col(obs_ts).alias("__obs_ts"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        *[F.lit(None).alias(f"__p_{c}") for c in probes.columns],
    )
    prb = probes.select(
        *series_cols,
        F.col(probe_ts).alias("__ts"),
        F.lit(0).alias("__is_obs"),
        F.lit(None).cast("timestamp").alias("__obs_ts"),
        *[F.lit(None).alias(f"__v_{c}") for c in value_cols],
        *[F.col(c).alias(f"__p_{c}") for c in probes.columns],
    )
    unioned = obs.unionByName(prb)
    # multi-series (`series_cols`) partitions the window and parallelizes by
    # key — the 100 TB form; the single-series form is one global sort and
    # only suits bounded series (e.g. one city's observations)
    order = [F.asc("__ts"), F.desc("__is_obs")]
    if series_cols:
        w = Window.partitionBy(*series_cols).orderBy(*order)
    else:
        w = Window.orderBy(*order)
    w = w.rowsBetween(Window.unboundedPreceding, 0)
    filled = unioned.select(
        "*",
        F.last("__obs_ts", ignorenulls=True).over(w).alias("__m_ts"),
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
            for c in value_cols
        ],
    ).where(F.col("__is_obs") == 0)
    if tolerance_minutes is not None:
        in_tol = F.col("__m_ts") >= F.timestamp_add(
            "MINUTE", F.lit(-tolerance_minutes), F.col("__ts")
        )
        filled = filled.withColumns(
            {
                "__m_ts": F.when(in_tol, F.col("__m_ts")),
                **{f"__m_{c}": F.when(in_tol, F.col(f"__m_{c}")) for c in value_cols},
            }
        )
    return filled.select(
        *series_cols,
        *[F.col(f"__p_{c}").alias(c) for c in probes.columns if c not in series_cols],
        F.col("__m_ts").alias("matched_obs_ts"),
        *[F.col(f"__m_{c}").alias(c) for c in value_cols],
    )


def interval_overlap_join(
    rows: DataFrame,
    periods: DataFrame,
    row_start: str,
    row_end: str,
    period_start: str,
    period_end: str,
) -> DataFrame:
    """INNER join of rows to every period whose [start, end] interval
    overlaps the row's — bucket-exploded so it plans as an equi-join.

    Both sides explode into the hour buckets their interval covers and
    equi-join on the bucket; a residual exact-overlap predicate removes
    same-bucket non-overlaps, and a distinct collapses multi-bucket
    matches. Overlap is closed-interval: touching endpoints match.
    """

    def explode_buckets(df: DataFrame, s: str, e: str, tag: str) -> DataFrame:
        lo = (F.unix_timestamp(F.col(s)) / 3600).cast("long")
        hi = (F.unix_timestamp(F.col(e)) / 3600).cast("long")
        return df.select(
            "*", F.explode(F.sequence(lo, hi)).alias(f"__bucket_{tag}")
        )

    r = explode_buckets(rows, row_start, row_end, "r")
    p = explode_buckets(periods, period_start, period_end, "p")
    joined = r.join(p, F.col("__bucket_r") == F.col("__bucket_p")).where(
        (F.col(row_start) <= F.col(period_end))
        & (F.col(period_start) <= F.col(row_end))
    )
    return joined.drop("__bucket_r", "__bucket_p").distinct()
