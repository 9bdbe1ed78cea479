"""Output checks against DuckDB, run outside the timed region.

Registry operations are compared with their own oracle SQL
(``__spark_entry__.oracle_sql()``) on the generated tables: same row count,
same column names, same order-insensitive multiset of values. The ELT
refresh is compared with DuckDB SQL built from the engine's own model
fragments over the same ingest batches.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime

import duckdb


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the rows, with columns
    taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()
    return len(canon), h


def duck_digest(con, sql: str) -> tuple[list[str], tuple[int, str]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return sorted(c.lower() for c in cols), digest(cols, cur.fetchall())


def oracle_digests(pool, input_dir: str, oracle_sql: dict[str, str]) -> dict:
    """Name -> future of ``duck_digest`` for each oracle over the generated
    tables. One connection runs them in turn on ``pool``."""
    from inputs import TABLES

    con = duckdb.connect(config={"threads": 2})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
        )
    return {name: pool.submit(duck_digest, con, sql) for name, sql in oracle_sql.items()}


def registry_mismatch(oracle, cols: list[str], rows) -> str | None:
    """None when a collected Spark result matches the oracle's
    ``duck_digest``, else what differs."""
    s_cols = sorted(c.lower() for c in cols)
    s = digest(cols, [tuple(r) for r in rows])
    d_cols, d = oracle
    if s_cols != d_cols:
        return f"columns spark={s_cols} duckdb={d_cols}"
    if s[0] != d[0]:
        return f"rows spark={s[0]} duckdb={d[0]}"
    if s[1] != d[1]:
        return "values differ"
    return None


# -- ELT refresh ------------------------------------------------------------

DAILY_COLS = {
    "trip_date": None, "trip_count": None, "total_revenue": 2, "avg_fare": 4,
    "avg_distance": 4, "avg_duration_minutes": 4, "avg_passenger_count": 4,
    "weekend_trip_count": None, "weekday_trip_count": None,
    "avg_daily_temperature": 4, "min_daily_temperature": None,
    "max_daily_temperature": None, "avg_daily_humidity": 4,
}


def _daily_select(src: str) -> str:
    # epsilon-shifted rounding, as in every registry oracle: the two engines
    # sum in different orders, so only rounded aggregates compare
    cols = ", ".join(
        c if n is None else f"round(1e-9 + {c}, {n}) AS {c}" for c, n in DAILY_COLS.items()
    )
    return f"SELECT {cols} FROM {src}"


def elt_oracle_sql() -> tuple[str, str]:
    """(fact row count SQL, mart_daily_metrics SQL) over a DuckDB view
    ``events`` holding every delivered batch row, re-deliveries included.
    The MERGE keeps one copy of a re-delivered trip, so trips are the
    distinct rows; the weather feed keeps every delivery."""
    from nyc_taxi_data_warehouse_spark.plans import intermediate, marts, nyc_views, staging

    delivered = nyc_views.SQL_TRIPS.replace("trips AS (", "trips_delivered AS (", 1)
    if delivered == nyc_views.SQL_TRIPS:
        raise RuntimeError("nyc_views.SQL_TRIPS no longer defines the trips CTE")
    trips = "trips AS (SELECT DISTINCT * FROM trips_delivered)"
    ctes = [delivered, trips, nyc_views.SQL_WEATHER, staging.SQL_STG_TRIPS,
            staging.SQL_STG_WEATHER, intermediate.SQL_INT_TRIPS_ENRICHED,
            intermediate.SQL_INT_WEATHER_HOURLY, marts.SQL_MART_DAILY_METRICS]
    with_ = "WITH " + ",\n".join(c.strip() for c in ctes) + "\n"
    fact = with_ + (
        "SELECT count(*) FROM trips WHERE pickup_datetime IS NOT NULL"
        " AND dropoff_datetime IS NOT NULL AND pickup_zone_id IS NOT NULL"
        " AND dropoff_zone_id IS NOT NULL AND trip_distance > 0 AND total_amount > 0"
    )
    return fact, with_ + _daily_select("mart_daily_metrics")


def elt_mismatch(batch_paths: list[str], fact_dir: str, daily_dir: str) -> str | None:
    """Compare the refreshed lake (read back from parquet by DuckDB) with the
    oracle over the same batches."""
    con = duckdb.connect()
    files = ", ".join(f"'{p}'" for p in batch_paths)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
    fact_sql, daily_sql = elt_oracle_sql()
    want_rows = con.execute(fact_sql).fetchone()[0]
    got_rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{fact_dir}/**/*.parquet')"
    ).fetchone()[0]
    if want_rows != got_rows:
        return f"fact rows lake={got_rows} duckdb={want_rows}"
    want = duck_digest(con, daily_sql)
    got = duck_digest(con, _daily_select(f"read_parquet('{daily_dir}/**/*.parquet')"))
    if want != got:
        return "mart_daily_metrics differs"
    return None


def tree_bytes(*roots: str) -> tuple[int, int]:
    """(bytes, files) under the given directories."""
    size = files = 0
    for root in roots:
        for dirpath, _dirs, names in os.walk(root):
            for n in names:
                try:
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
                except FileNotFoundError:
                    pass
    return size, files
