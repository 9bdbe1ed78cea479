"""Time-series regularization operators: spine generation + gap-fill.

The reference repairs hourly gaps by re-fetching or synthesizing missing
rows (`dags/weather_historical_backfill.py`); the general engine operator
is: build the complete time spine between min and max, left-join the
observations, and forward-fill within each series.

Scale notes: the spine is generated with `sequence` + `explode` from ONE
aggregate row — no driver loop, no range collect. The forward-fill is
two-pass bucketed: pass 1 fills within (series, time-bucket) window
partitions; pass 2 forward-fills per-bucket carry values over the tiny
(series, bucket) summary and joins them back (broadcast-sized). Parallelism
is therefore #series × #buckets, not #series — a long history with few
series still spreads across the cluster instead of serializing one window
partition per series.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hour_spine(df: DataFrame, ts_col: str) -> DataFrame:
    """Every hour between floor(min(ts)) and floor(max(ts)), one row each."""
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("hi"),
    )
    return bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )


def resample_ffill(
    df: DataFrame,
    ts_col: str,
    series_cols: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Hourly resample with forward-fill: one row per (series, hour) over the
    complete spine; missing values take the most recent earlier observation
    in the same series (NULL until the first observation).

    Two-pass bucketed fill (semantics identical to one per-series window):

    1. within-bucket: `last(ignorenulls)` over (series, day) partitions
       — the heavy pass, parallel in #series × #buckets;
    2. carry: per-bucket last filled value (one row per series × bucket),
       forward-filled over buckets with strictly-earlier frame, joined back
       (summary is broadcast-sized) and coalesced under pass 1.
    """
    hourly = df.groupBy(
        *series_cols, F.date_trunc("hour", ts_col).alias("hour_ts")
    ).agg(*[F.avg(c).alias(c) for c in value_cols])
    spine = hour_spine(df, ts_col)
    series = df.select(*series_cols).distinct()
    # the spine is one row per hour of history — KiB-scale even for decades
    # — so pin the broadcast: at high #series an unhinted crossJoin may
    # degrade to a shuffled cartesian, and the dense grid must always be
    # built as (partitioned series) × (broadcast spine)
    grid = series.crossJoin(F.broadcast(spine))
    joined = grid.join(hourly, [*series_cols, "hour_ts"], "left").withColumn(
        "__b", F.date_trunc("day", "hour_ts")
    )
    w_in = (
        Window.partitionBy(*series_cols, "__b")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = joined.select(
        *series_cols,
        "hour_ts",
        "__b",
        *[F.col(c) for c in value_cols],
        *[
            F.last(c, ignorenulls=True).over(w_in).alias(f"__{c}_wf")
            for c in value_cols
        ],
    )
    bucket_last = within.groupBy(*series_cols, "__b").agg(
        *[
            F.max_by(f"__{c}_wf", "hour_ts").alias(f"__{c}_last")
            for c in value_cols
        ]
    )
    w_carry = (
        Window.partitionBy(*series_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bucket_last.select(
        *series_cols,
        "__b",
        *[
            F.last(f"__{c}_last", ignorenulls=True)
            .over(w_carry)
            .alias(f"__{c}_carry")
            for c in value_cols
        ],
    )
    return within.join(F.broadcast(carry), [*series_cols, "__b"], "left").select(
        *series_cols,
        "hour_ts",
        *[
            F.coalesce(f"__{c}_wf", f"__{c}_carry").alias(f"{c}_filled")
            for c in value_cols
        ],
        *[F.col(c).isNotNull().alias(f"{c}_observed") for c in value_cols],
    )


def resample_interpolate(
    df: DataFrame,
    ts_col: str,
    series_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Hourly resample with LINEAR interpolation — the gap repair
    `resample_ffill` can't give when the quantity drifts between
    observations (a temperature ramp forward-filled is a staircase;
    interpolated it's the ramp): every spine hour between two
    observations takes prev + (next − prev) · elapsed/gap; hours
    before the first or after the last observation stay NULL (no
    extrapolation).

    Shape: same spine × series grid as resample_ffill, then ONE
    backward and ONE forward fill window per series.  The per-series
    window state is calendar-bounded (#hours of history, not data
    volume — the q_kendall_tau cap argument); at very long histories
    the two-pass bucketed trick of resample_ffill applies to each
    direction symmetrically.
    """
    hourly = df.groupBy(
        *series_cols, F.date_trunc("hour", ts_col).alias("hour_ts")
    ).agg(F.avg(value_col).alias("__v"))
    spine = hour_spine(df, ts_col)
    series = df.select(*series_cols).distinct()
    grid = series.crossJoin(F.broadcast(spine))
    joined = grid.join(hourly, [*series_cols, "hour_ts"], "left")
    w_back = (
        Window.partitionBy(*series_cols)
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*series_cols)
        .orderBy("hour_ts")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col("__v").isNotNull(), F.col("hour_ts"))
    base = joined.select(
        *series_cols,
        "hour_ts",
        "__v",
        F.last(obs_ts, ignorenulls=True).over(w_back).alias("__pt"),
        F.last("__v", ignorenulls=True).over(w_back).alias("__pv"),
        F.first(obs_ts, ignorenulls=True).over(w_fwd).alias("__nt"),
        F.first("__v", ignorenulls=True).over(w_fwd).alias("__nv"),
    )
    interp = (
        "CASE WHEN __v IS NOT NULL THEN __v"
        " WHEN __pt IS NULL OR __nt IS NULL THEN NULL"
        " ELSE __pv + (__nv - __pv)"
        " * (CAST(unix_timestamp(hour_ts) - unix_timestamp(__pt) AS DOUBLE)"
        " / (unix_timestamp(__nt) - unix_timestamp(__pt))) END"
    )
    return base.select(
        *series_cols,
        "hour_ts",
        F.expr(interp).alias(f"{value_col}_interp"),
        F.col("__v").isNotNull().alias(f"{value_col}_observed"),
    )


def robust_anomalies(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    z_thresh: float = 3.5,
) -> DataFrame:
    """Median/MAD robust outlier detection per series — the Iglewicz–Hoaglin
    modified z-score: M = 0.6745·(x − median) / MAD, flag |M| > ``z_thresh``
    (their recommended 3.5).  Mean/stddev z-scores are useless on demand
    series because the outliers drag the baseline; the median/MAD pair has a
    50% breakdown point, so one broken day (feed outage, double-load) can't
    hide itself.

    Both medians are EXACT windowed percentiles over the series partition:
    one shuffle on the key, two sequential Window evaluations, no joins.
    Per-series state is O(series length) — fine for daily/hourly grains
    (thousands of points); for unbounded series swap in
    ``approx_percentile``.  Median of integers is deterministic (an order
    statistic, not an accumulation), so results are engine-reproducible;
    ``mad = 0`` (over half the points identical) yields a NULL score and no
    flag rather than a division blow-up.
    """
    w = Window.partitionBy(*[F.col(k) for k in key_cols])
    x = F.col(value_col)
    withmed = df.withColumn(
        "med", F.percentile(x, F.lit(0.5)).over(w)
    ).withColumn("__adev", F.abs(x - F.col("med")))
    withmad = withmed.withColumn(
        "mad", F.percentile(F.col("__adev"), F.lit(0.5)).over(w)
    )
    rz = F.lit(0.6745) * (x - F.col("med")) / F.col("mad")
    return (
        withmad.withColumn(
            "rz", F.when(F.col("mad") > 0, rz).otherwise(F.lit(None).cast("double"))
        )
        .withColumn(
            "is_anomaly",
            F.when(F.abs(F.col("rz")) > z_thresh, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("__adev")
    )


def rolling_median(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    window: int = 7,
    out_col: str = "rolling_med",
) -> DataFrame:
    """Trailing rolling median per series — the robust moving baseline
    (`ma7`'s outlier-proof sibling): one spiked day shifts a 7-day mean by
    1/7 of the spike but leaves the median untouched.

    Exact windowed percentile over ``ROWS BETWEEN window-1 PRECEDING AND
    CURRENT ROW``: one shuffle on the key, per-row state bounded by the
    window length (not the series), and a median of ≤window integers is an
    order statistic — engine-reproducible with no epsilon games.
    """
    w = (
        Window.partitionBy(*[F.col(k) for k in key_cols])
        .orderBy(order_col)
        .rowsBetween(-(window - 1), 0)
    )
    return df.withColumn(
        out_col, F.percentile(F.col(value_col), F.lit(0.5)).over(w)
    )
