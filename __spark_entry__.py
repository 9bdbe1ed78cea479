"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine code lives in ``nyc_taxi_data_warehouse_spark/``; this file only
wires the registry together.
"""

from __future__ import annotations

import importlib
import json
import os
import re
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (mart_trips_weather, J1+A2) on /root/testdata/sf0.001."""
    from nyc_taxi_data_warehouse_spark.queries_nyc import q_trips_weather

    return q_trips_weather(spark, "/root/testdata/sf0.001")


# The driver records CORRECTNESS rows for only the first 50 registry
# entries per round, so the registry order is the check window:
#   1. _PRIORITY: queries rewritten since the newest driver file, in order;
#      drop a name once a driver round has verified the rewrite;
#   2. FLAGSHIPS whose last driver pass is >= 2 rounds old (the
#      reference-surface marts may never go more than 2 rounds unchecked);
#   3. every other query by its last passing driver round, then by name,
#      so the stalest evidence is refreshed first and a new query (no row,
#      round 0) lands in the window without an edit.
_PRIORITY = [
    # both SCD2 strategies run on one merge core with presence markers
    "q_scd2_check", "q_scd2_timestamp",
    # Count-Min and Bloom slots come from one sketches.hash_slot
    "q_countmin_topk", "q_bloom_portable", "q_cm_join_size",
    # signature store moved onto the Delta writer
    "q_neardup_store_roundtrip", "q_store_time_travel",
    # connected-components materialization now always localCheckpoint
    "q_dedup_cluster", "q_cluster_split",
    # memory-sink drains moved onto weather_stream.drain_available_now
    "q_stream_hourly", "q_stream_dedup", "q_stream_sessions", "q_stream_asof",
    "q_stream_join", "q_stream_hll", "q_stream_histogram", "q_stream_psi",
    "q_stream_ingest_dedup", "q_stream_cdc", "q_stream_bloom", "q_stream_cm",
    "q_stream_mg_topk", "q_stream_ohlc", "q_stream_sliding", "q_stream_kmins",
    "q_stream_cusum",
    # truth-sample rate is now a constant
    "q_lsh_tuning",
]
FLAGSHIPS = [
    "q_enrich", "q_trips_weather", "q_daily",
    "q_zone_analysis", "q_fare_daily_features",
]
_MODULES = ("queries_nyc", "queries_data", "queries_tpch", "queries_mining",
            "queries_eval")
_DRIVER_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def driver_rounds(directory: str) -> dict[int, dict[str, dict]]:
    """``{round: rows}`` from the driver's ``CORRECTNESS_r<N>.json`` files
    in ``directory``; other files, such as local-run
    ``CORRECTNESS_builder_r<N>.json``, are not driver evidence."""
    out = {}
    for fname in os.listdir(directory):
        m = _DRIVER_FILE.fullmatch(fname)
        if m:
            with open(os.path.join(directory, fname)) as fh:
                out[int(m.group(1))] = json.load(fh)
    return out


def check_order(
    names: list[str], rounds: dict[int, dict[str, dict]], priority: list[str]
) -> list[str]:
    """Registry order for ``names`` given the driver's per-round rows."""
    last = dict.fromkeys(names, 0)
    for rnd, rows in rounds.items():
        for name, row in rows.items():
            if name in last and row["err"] is None and all(
                row[k] for k in ("rows_match", "schema_match", "hash_match")
            ):
                last[name] = max(last[name], rnd)
    this_round = max(rounds, default=0) + 1
    first = [n for n in priority if n in last]
    first += [n for n in FLAGSHIPS
              if n in last and n not in first and this_round - last[n] >= 2]
    rest = sorted(set(names) - set(first), key=lambda n: (last[n], n))
    return first + rest


def _registry() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]],
                         dict[str, str]]:
    mods = [importlib.import_module(f"nyc_taxi_data_warehouse_spark.{m}")
            for m in _MODULES]
    fns = {n: getattr(mod, n) for mod in mods for n in mod.ORACLES}
    sql = {n: s for mod in mods for n, s in mod.ORACLES.items()}
    here = os.path.dirname(os.path.abspath(__file__))
    order = check_order(list(fns), driver_rounds(here), _PRIORITY)
    return {n: fns[n] for n in order}, {n: sql[n] for n in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per ``ORACLES`` key of the query modules, in check-window
    order. Each callable: (spark, sf_dir) → DataFrame."""
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for each query (tables pre-registered as views), in the
    same order as ``queries()``."""
    return _registry()[1]
