"""Monitoring/statistics cores shared by the round-8 query wave: the
prefix-identity CUSUM chart and the engine-portable normal tail.

The CUSUM recurrence S_t = max(0, S_{t-1} + d_t) is NOT iterative in
SQL: the classic identity S_t = P_t − min(0, min_{j≤t} P_j) (P the
running sum of deviations) makes it two stacked window aggregates over
the already-aggregated grain frame — no recursion, no UDF, one sorted
exchange.  Deviations are scaled to exact integers by the caller so
every chart value and alarm is bit-reproducible against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cusum_columns(
    grain: DataFrame,
    key_col: str,
    order_col: str,
    dev_cols: dict[str, str],
) -> DataFrame:
    """Append one prefix-identity CUSUM column per entry of
    ``dev_cols`` (out_name → integer deviation column) to the grain
    frame: out = P − min(0, running min of P), P the running sum of the
    deviation within ``key_col`` ordered by ``order_col``.  Windows run
    over the grain frame only (days × keys — tiny); all arithmetic is
    BIGINT when the deviations are."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = grain.select(
        "*",
        *[
            F.sum(dev).over(w).alias(f"__p_{out}")
            for out, dev in dev_cols.items()
        ],
    )
    out = pre.select(
        "*",
        *[
            (
                F.col(f"__p_{o}")
                - F.least(F.lit(0), F.min(f"__p_{o}").over(w))
            )
            .cast("long")
            .alias(o)
            for o in dev_cols
        ],
    )
    return out.drop(*[f"__p_{o}" for o in dev_cols])


def p2_formula(z: str) -> str:
    """Two-sided normal p-value 2·Q(|z|) as ONE textual SQL formula
    shared verbatim between Spark (``F.expr``) and a DuckDB oracle —
    neither engine ships erf, and per-row double arithmetic over an
    identical expression tree is bit-exact across engines, so the SAME
    Abramowitz–Stegun 26.2.17 polynomial (|ε| < 7.5e-8) yields
    hash-identical p-values.  Callers must round the INPUT z
    identically on both sides first."""
    az = f"abs({z})"
    t = f"(1.0 / (1.0 + 0.2316419 * {az}))"
    poly = (
        f"({t} * (0.31938153 + {t} * (-0.356563782 + {t} *"
        f" (1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    pdf = f"(exp(-({az} * {az}) / 2.0) * 0.3989422804014327)"
    return f"least(1.0, 2.0 * {pdf} * {poly})"

