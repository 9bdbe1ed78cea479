"""Data-quality assertion runner — the dbt declarative test layer (§2.12).

Reference tests: `not_null` on 20+ columns, `unique` on hour_ts/trip_date/
dbt_scd_id, `dbt_utils.accepted_range` on distance/amount/temperature/
humidity, plus source-freshness SLAs (`models/staging/schema.yml`,
`models/marts/schema.yml`, `models/staging/sources.yml:13-15,37-39`).

Each check compiles to a violation query (rows>0 = fail), exactly dbt's
failure semantics. A row-level check (`not_null`, `accepted_range`) is a
:class:`RowCheck`, a predicate over its table; a grouped check (`unique`)
is a lazy DataFrame of violating groups. `violation_report` evaluates a
suite as ONE report, fusing the row checks of each table into one
aggregate, and `run_checks` collects that report once and returns
structured results.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# violation counts are capped like dbt's `limit`ed failure query
VIOLATION_CAP = 1001


@dataclass
class CheckResult:
    name: str
    status: str  # 'pass' | 'fail'
    violations: int


@dataclass(frozen=True, eq=False)
class RowCheck:
    """A row-level check: the rows of ``table`` where ``predicate`` holds
    violate it."""

    table: DataFrame
    predicate: Column

    def violations(self) -> DataFrame:
        """The violating rows (dbt's compiled test query)."""
        return self.table.where(self.predicate)


def not_null(df: DataFrame, col: str) -> RowCheck:
    return RowCheck(df, F.col(col).isNull())


def unique(df: DataFrame, *cols: str) -> DataFrame:
    """The key groups seen more than once. One column is dbt's generic
    ``unique`` test, which filters ``where <col> is not null`` first, so
    NULL keys never violate it; several columns are
    ``dbt_utils.unique_combination_of_columns``, which groups NULLs like
    any other value."""
    if len(cols) == 1:
        df = df.where(F.col(cols[0]).isNotNull())
    return (
        df.groupBy(*[F.col(c) for c in cols])
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def accepted_range(
    df: DataFrame,
    col: str,
    min_value: float | None = None,
    max_value: float | None = None,
    inclusive: bool = True,
) -> RowCheck:
    """dbt_utils.accepted_range: violating rows outside [min, max]."""
    c = F.col(col)
    cond = F.lit(False)
    if min_value is not None:
        cond = cond | (c < min_value if inclusive else c <= min_value)
    if max_value is not None:
        cond = cond | (c > max_value if inclusive else c >= max_value)
    return RowCheck(df, c.isNotNull() & cond)


def freshness_report(
    sources: list[tuple[str, DataFrame, str, int, int]], as_of: str | None = None
) -> DataFrame:
    """The dbt `source freshness` stage as one relational report, so it
    can run inside the oracle gate and on a schedule without collecting
    scalars.

    `sources` rows are (name, df, ts_col, warn_hours, error_hours); `as_of`
    is the injectable evaluation instant (reference SLAs: trips 24/48h,
    weather 2/4h, `models/staging/sources.yml:13-15,37-39`). ``as_of=None``
    evaluates against the wall clock (`current_timestamp()`, engine-side) —
    the operational scheduled-run mode; pin it for reproducible gates.
    Each source contributes a one-row max(ts) aggregate; ages floor to
    whole hours on truncated epoch seconds so the report is engine-exact."""
    from functools import reduce

    as_of_sec = F.unix_timestamp(
        F.current_timestamp() if as_of is None else F.lit(as_of).cast("timestamp")
    )
    parts = []
    for name, df, ts_col, warn_h, err_h in sources:
        agg = df.agg(F.max(ts_col).alias("latest_ts")).select(
            F.lit(name).alias("source"),
            "latest_ts",
            F.floor(
                (as_of_sec - F.unix_timestamp(F.col("latest_ts"))) / 3600
            )
            .cast("long")
            .alias("age_hours"),
        )
        parts.append(
            agg.withColumn(
                "status",
                # an EMPTY source (max(ts) NULL → age NULL) is the dead-feed
                # condition the SLA exists to catch: every comparison with
                # NULL is false, so without this branch it would fall through
                # to 'pass'
                F.when(F.col("latest_ts").isNull(), F.lit("fail"))
                .when(F.col("age_hours") > err_h, F.lit("fail"))
                .when(F.col("age_hours") > warn_h, F.lit("warn"))
                .otherwise(F.lit("pass")),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def fused_violation_counts(
    df: DataFrame, predicates: dict[str, Column]
) -> DataFrame:
    """All row-predicate checks of ONE table in ONE scan: conditional
    counts in a single aggregate, unpivoted to (check_name, violations).
    An empty table counts 0 violations per check. `unique`-style grouped
    checks still need their own aggregation."""
    counts = df.agg(
        *[
            F.count(F.when(cond, 1)).alias(f"v{i}")
            for i, cond in enumerate(predicates.values())
        ]
    )
    pairs = [
        x for i, name in enumerate(predicates) for x in (F.lit(name), F.col(f"v{i}"))
    ]
    return counts.select(
        F.stack(F.lit(len(predicates)), *pairs).alias("check_name", "violations")
    )


def violation_report(named_checks: dict[str, RowCheck | DataFrame]) -> DataFrame:
    """One DataFrame of (check_name, violations) — the dbt-test result table
    as a relational output (oracle-checkable, persistable as an audit mart).

    The :class:`RowCheck` s on one table (the same DataFrame object) fuse
    into one :func:`fused_violation_counts` aggregate, each grouped check
    (a DataFrame of violating groups) counts on its own, and the parts
    union into one plan."""
    from functools import reduce

    tables: dict[int, tuple[DataFrame, dict[str, Column]]] = {}
    grouped: dict[str, DataFrame] = {}
    for name, check in named_checks.items():
        if isinstance(check, RowCheck):
            preds = tables.setdefault(id(check.table), (check.table, {}))[1]
            preds[name] = check.predicate
        else:
            grouped[name] = check
    parts = [fused_violation_counts(t, preds) for t, preds in tables.values()]
    parts += [
        df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )
        for name, df in grouped.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def run_checks(named_checks: dict[str, RowCheck | DataFrame]) -> list[CheckResult]:
    """Execute the suite with one collect of its :func:`violation_report`;
    rows > 0 → fail (dbt semantics). Results follow ``named_checks``' order
    and counts are capped at ``VIOLATION_CAP``, as a per-check
    ``limit(VIOLATION_CAP).count()`` reports them."""
    counts = dict(map(tuple, violation_report(named_checks).collect()))
    out = []
    for name in named_checks:
        n = min(counts[name], VIOLATION_CAP)
        out.append(CheckResult(name, "pass" if n == 0 else "fail", n))
    return out


def reference_check_suite(
    stg_trips: DataFrame, stg_weather: DataFrame, mart_trips_weather: DataFrame,
    mart_daily: DataFrame,
) -> dict[str, RowCheck | DataFrame]:
    """The reference's declarative test suite, ported 1:1."""
    return {
        # models/staging/schema.yml:9-41
        "stg_trips.pickup_not_null": not_null(stg_trips, "pickup_datetime"),
        "stg_trips.dropoff_not_null": not_null(stg_trips, "dropoff_datetime"),
        "stg_trips.pickup_zone_not_null": not_null(stg_trips, "pickup_zone_id"),
        "stg_trips.dropoff_zone_not_null": not_null(stg_trips, "dropoff_zone_id"),
        "stg_trips.distance_range": accepted_range(
            stg_trips, "trip_distance", min_value=0, inclusive=False
        ),
        "stg_trips.amount_range": accepted_range(
            stg_trips, "total_amount", min_value=0, inclusive=False
        ),
        # models/staging/schema.yml:45-64
        "stg_weather.observed_not_null": not_null(stg_weather, "observed_at"),
        "stg_weather.temp_not_null": not_null(stg_weather, "temperature_fahrenheit"),
        "stg_weather.temp_range": accepted_range(
            stg_weather, "temperature_fahrenheit", -50, 150
        ),
        "stg_weather.humidity_range": accepted_range(
            stg_weather, "humidity_percent", 0, 100
        ),
        # models/marts/schema.yml:8-37
        "mart_trips_weather.hour_ts_not_null": not_null(mart_trips_weather, "hour_ts"),
        "mart_daily.trip_date_unique": unique(mart_daily, "trip_date"),
        "mart_daily.trip_date_not_null": not_null(mart_daily, "trip_date"),
    }
