"""Source readers (SURVEY §2.1).

- S1: parquet scan — plain `spark.read.parquet` in
  `plans/nyc_views.py::load_tables` (identical to reference's
  `dags/etl_spark_historical.py:178`).
- S5/S15: CSV with the reference's Snowflake file-format options
  (`SKIP_HEADER=1, FIELD_OPTIONALLY_ENCLOSED_BY='"', NULL_IF ('','NULL','null')`,
  `dags/etl_spark_historical.py:76-82`).
- S11-S14: REST JSON feeds — driver-side fetch with an injectable transport
  so offline tests stub the HTTP hop; rows land via `createDataFrame` and
  append like the reference's parameterized INSERTs.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv_snowflake_format(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """CSV reader matching the reference's stage file format (S5)."""
    reader = (
        spark.read.option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "")
        .option("emptyValue", "")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def fetch_json_rows(
    url: str,
    fetcher: Callable[[str], str] | None = None,
) -> list[dict]:
    """Driver-side REST fetch (S11/S13). `fetcher` is injectable; the default
    uses urllib — offline environments pass a stub returning canned payloads
    (the reference's 401-fallback path, `weather_historical_backfill.py:59-79`,
    is exactly this shape)."""
    if fetcher is None:
        from urllib.request import urlopen

        def fetcher(u: str) -> str:  # pragma: no cover - network
            with urlopen(u, timeout=30) as r:
                return r.read().decode()

    payload = json.loads(fetcher(url))
    return payload if isinstance(payload, list) else [payload]


def probe_latest_month(
    url_template: str,
    now_year: int,
    now_month: int,
    exists: Callable[[str], bool] | None = None,
    max_back: int = 24,
) -> str | None:
    """S2: TLC month-probe — walk months newest→oldest and return the first
    YYYY-MM whose file the CDN serves (`dags/etl_spark_historical.py:113-143`
    does this with `requests.head`). `exists` is injectable; the default
    issues a HEAD request via urllib."""
    if exists is None:  # pragma: no cover - network
        from urllib.request import Request, urlopen

        def exists(u: str) -> bool:
            try:
                req = Request(u, method="HEAD")
                with urlopen(req, timeout=15) as r:
                    return 200 <= r.status < 300
            except Exception:
                return False

    y, m = now_year, now_month
    for _ in range(max_back):
        ym = f"{y:04d}-{m:02d}"
        if exists(url_template.format(month=ym)):
            return ym
        m -= 1
        if m == 0:
            y, m = y - 1, 12
    return None


def download_month_to_lake(
    url_template: str,
    ym: str,
    dest_dir: str,
    opener: Callable[[str], object] | None = None,
    chunk_bytes: int = 8 << 20,
) -> str:
    """S3: chunked download of one month's file into the lake landing zone
    (`dags/etl_spark_historical.py:145-166` streams the TLC parquet to disk
    in chunks rather than loading it in memory). `opener(url)` returns a
    binary file-like and is injectable so offline tests stub the HTTP hop;
    the default uses urllib. The file lands at ``<dest_dir>/<YYYY-MM>.parquet``
    via a temp-file rename, so a partial download is never visible as a
    complete month file. Returns the landed path."""
    import os

    if opener is None:  # pragma: no cover - network
        from urllib.request import urlopen

        def opener(u: str):
            return urlopen(u, timeout=60)

    os.makedirs(dest_dir, exist_ok=True)
    final = os.path.join(dest_dir, f"{ym}.parquet")
    tmp = final + ".__part"
    try:
        with opener(url_template.format(month=ym)) as src, open(tmp, "wb") as out:
            while True:
                chunk = src.read(chunk_bytes)
                if not chunk:
                    break
                out.write(chunk)
        os.rename(tmp, final)
    except Exception:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return final


def ingest_latest_month(
    spark: SparkSession,
    url_template: str,
    now_year: int,
    now_month: int,
    dest_dir: str,
    exists: Callable[[str], bool] | None = None,
    opener: Callable[[str], object] | None = None,
) -> DataFrame | None:
    """S2+S3+S1 end to end: probe the newest served month, stream it into
    the lake, and open it as a DataFrame (the reference's
    `check_data_availability → download_data → spark.read.parquet` chain,
    `dags/etl_spark_historical.py:113-178`). Returns None when no month
    within the probe window exists."""
    ym = probe_latest_month(url_template, now_year, now_month, exists=exists)
    if ym is None:
        return None
    path = download_month_to_lake(url_template, ym, dest_dir, opener=opener)
    return spark.read.parquet(path)


def weather_row_from_payload(payload: dict) -> dict:
    """Parse an OpenWeather-shaped current-conditions payload into the
    RAW_WEATHER row shape (`dags/weather_realtime_etl.py:104-151`)."""
    main = payload.get("main", {})
    desc = ""
    weather_list = payload.get("weather") or []
    if weather_list:
        desc = weather_list[0].get("description", "")
    return {
        "city": payload.get("name", ""),
        "temp_f": main.get("temp"),
        "humidity_pct": main.get("humidity"),
        "weather_desc": desc,
        "raw_json": json.dumps(payload, separators=(",", ":")),
    }


def synthetic_weather_estimate(spark: SparkSession, hours: DataFrame) -> DataFrame:
    """Deterministic seasonal fallback for missing weather hours — the
    reference's 401-fallback synthesizer (month→base-temp map + hour-of-day
    adjustment, `weather_historical_backfill.py:258-279`) as pure column
    expressions. `hours` must have a timestamp column `hour_ts`."""
    month_temp = F.when(F.month("hour_ts").isin(12, 1, 2), 35.0) \
        .when(F.month("hour_ts").isin(3, 4, 5), 55.0) \
        .when(F.month("hour_ts").isin(6, 7, 8), 78.0) \
        .otherwise(60.0)
    hour_adj = (
        F.when(F.hour("hour_ts").between(6, 11), 3.0)
        .when(F.hour("hour_ts").between(12, 17), 8.0)
        .when(F.hour("hour_ts").between(18, 22), 2.0)
        .otherwise(-4.0)
    )
    return hours.select(
        F.col("hour_ts").alias("observed_at"),
        F.lit("New York").alias("city"),
        (month_temp + hour_adj).alias("temp_f"),
        F.lit("partly cloudy").alias("weather_desc"),
        F.lit(60).cast("int").alias("humidity_pct"),
        F.lit(None).cast("string").alias("raw_json"),
        F.col("hour_ts").alias("load_ts"),
    )
