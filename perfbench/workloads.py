"""The workloads, each one closed-loop client of the engine's public
functions: the next operation starts only when the previous one returned.

- ``analyst_mix``: read-only registry queries, each built and collected,
  in passes over the mix, each pass in its own seed-shuffled order.
- ``elt_refresh``: the reference DAG over the day's seeded ingest batch,
  on a fresh lake that set-up fills with the previous batch: MERGE
  ingest, weather append and stream drain, models, marts, snapshots and
  the forecast chain.

Every operation records its wall time and the CPU time that the
benchmark's process tree (the Python driver, the JVM and its Python
workers) spent in it.
"""

from __future__ import annotations

import gc
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timedelta

# a subset of the BI mix, small enough that set-up's warm pass and the
# timed passes fit the run budget: TPC-H analogs (aggregate, multi-join,
# anti join), a reference mart and two OLAP shapes. The JIT keeps
# compiling through the first passes after the warm one, so a query needs
# several timed samples before its median settles.
ANALYST_MIX = [
    "q_tpch_q1", "q_tpch_q5", "q_tpch_q21", "q_daily", "q_star_join",
    "q_window_stats",
]
# batch 0 is the lake's state before the refresh; batch 1 is the day's
# delivery, re-sending part of batch 0
ELT_BATCHES = 2
ELT_REDELIVER = 0.05
# the refresh runs "as of" a fixed clock, so freshness grades and snapshot
# validity stamps do not depend on when the benchmark runs
ELT_AS_OF = datetime(2024, 2, 1)


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    cpu_s: float = 0.0


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)
    results: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)

    @property
    def cpu_s(self) -> float:
        return sum(o.cpu_s for o in self.ops)


def _report_failure(name: str) -> None:
    print(f"perfbench: operation {name} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def release(spark) -> None:
    """Between passes, outside their timings: drop persisted frames and
    collect both heaps, as the headline bench does, so one pass's
    leftovers do not tax the next. A full collection costs about a quarter
    of a second, too much to pay after every query."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# -- registry workloads -------------------------------------------------------

def analyst_order(seed: int, pass_no: int = 0) -> list[str]:
    """``ANALYST_MIX`` in the order the seed shuffles it into for the
    given pass."""
    names = list(ANALYST_MIX)
    random.Random(f"{seed}/{pass_no}").shuffle(names)
    return names


def run_query(ctx, name: str):
    """One timed operation: build the frame and collect its result. A
    traced run also forces physical planning in between. Returns the
    ``Op`` and the result (column names, rows), or None when it raised."""
    fn = ctx.queries[name]
    tr = ctx.tracer
    c0 = ctx.cpu_s()
    t0 = time.perf_counter()
    result = None
    try:
        with tr.span("queries.build"):
            df = fn(ctx.spark, ctx.input_dir)
        if tr.traced:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec"):
            result = (df.columns, df.collect())
    except Exception:
        _report_failure(name)
    t1 = time.perf_counter()
    return Op(name, t1 - t0, result is not None, ctx.cpu_s() - c0), result


def registry_pass(ctx, names: list[str]) -> Pass:
    """One pass over ``names``, keeping each result for the output check."""
    p = Pass()
    for name in names:
        ctx.tracer.next_op()
        op, result = run_query(ctx, name)
        p.ops.append(op)
        if result is not None:
            p.results[name] = result
    release(ctx.spark)
    return p


def checked(name: str, check) -> Op:
    """Run one output check (untimed): ``check()`` returns None when the
    output matches, else what differs. A check that raises fails too."""
    try:
        why = check()
    except Exception as e:
        why = f"the check raised {type(e).__name__}: {e}"
    if why:
        print(f"perfbench: {name} failed the output check: {why}", file=sys.stderr)
    return Op(f"check:{name}", 0.0, why is None)


def check_results(p: Pass, oracles: dict) -> list[Op]:
    """Compare a pass's kept results with their oracles."""
    from check import registry_mismatch

    return [
        checked(name, lambda name=name, res=res: registry_mismatch(oracles[name].result(), *res))
        for name, res in p.results.items()
    ]


# -- elt_refresh ----------------------------------------------------------------

class Lake:
    """The tables of one refresh's lake, and the snapshots it carries from
    one refresh to the next."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.fact, self.weather = f"{root}/fact_trips", f"{root}/raw_weather"
        self.marts = f"{root}/marts"
        self.snap_w = f"{root}/snapshots/snp_weather"
        self.snap_d = f"{root}/snapshots/snp_daily"
        self.prev = (None, None)


class _Steps:
    """The DAG's steps on one lake; ``tr`` is the tracer whose spans wrap
    each call into the engine."""

    def __init__(self, ctx, lake: Lake) -> None:
        self.ctx, self.spark, self.tr, self.lake = ctx, ctx.spark, ctx.tracer, lake
        self.run = None

    def create(self, ev) -> None:
        from nyc_taxi_data_warehouse_spark.plans import nyc_views, pipeline
        from nyc_taxi_data_warehouse_spark.sources import sinks

        empty = pipeline.ingest_trips(nyc_views.trips_from_events(ev), None).limit(0)
        sinks.append(empty, self.lake.fact)

    def ingest(self, ev) -> None:
        from nyc_taxi_data_warehouse_spark.operators import merge
        from nyc_taxi_data_warehouse_spark.plans import nyc_views, pipeline

        staged = pipeline.ingest_trips(nyc_views.trips_from_events(ev), None)
        with self.tr.span("operators.merge.merge_into_path"):
            merge.merge_into_path(self.spark, self.lake.fact, staged, pipeline.TRIP_KEY)

    def append(self, ev) -> None:
        from nyc_taxi_data_warehouse_spark.plans import nyc_views
        from nyc_taxi_data_warehouse_spark.sources import sinks

        with self.tr.span("sources.sinks.append"):
            sinks.append(nyc_views.weather_from_events(ev), self.lake.weather)

    def drain(self) -> None:
        from nyc_taxi_data_warehouse_spark.streaming import weather_stream

        with self.tr.span("streaming.weather_stream.drain") as sp:
            stream = weather_stream.read_weather_stream(self.spark, self.lake.weather)
            q = weather_stream.run_available_now(
                weather_stream.hourly_weather_stream(stream),
                query_name="perfbench_weather",
            )
            if sp is not None:
                self.ctx.group_alias[str(q.runId)] = sp.group
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

    def models(self, as_of: datetime, full: bool = True) -> None:
        """``full`` false builds the models without the freshness and
        quality stages, as set-up does for the previous snapshots."""
        from nyc_taxi_data_warehouse_spark.plans import pipeline

        self.release_run()
        with self.tr.span("plans.pipeline.run_models"):
            self.run = pipeline.run_models(
                self.spark.read.parquet(self.lake.fact),
                self.spark.read.parquet(self.lake.weather),
                run_quality=full, run_freshness=full,
                freshness_as_of=as_of.isoformat(sep=" "),
            )

    def persist(self) -> None:
        from nyc_taxi_data_warehouse_spark.plans import pipeline

        with self.tr.span("plans.pipeline.persist_marts"):
            pipeline.persist_marts(self.run, self.lake.marts)

    def snapshots(self, as_of: datetime) -> None:
        from nyc_taxi_data_warehouse_spark.plans import pipeline
        from nyc_taxi_data_warehouse_spark.sources import sinks

        lake = self.lake
        with self.tr.span("plans.pipeline.run_snapshots"):
            sw, sd = pipeline.run_snapshots(self.run, *lake.prev, as_of)
        with self.tr.span("sources.sinks.atomic_overwrite"):
            sinks.atomic_overwrite(sw, lake.snap_w)
            sinks.atomic_overwrite(sd, lake.snap_d)
        lake.prev = (self.spark.read.parquet(lake.snap_w),
                     self.spark.read.parquet(lake.snap_d))

    def forecast(self) -> None:
        from nyc_taxi_data_warehouse_spark.plans import pipeline

        with self.tr.span("plans.pipeline.run_forecast_chain"):
            _tr, fc, ev_df = pipeline.run_forecast_chain(self.spark, self.run)
            fc.write.mode("overwrite").format("noop").save()
            ev_df.write.mode("overwrite").format("noop").save()

    def release_run(self) -> None:
        if self.run is not None:
            self.run.enriched.unpersist()
            self.run = None


def seed_lake(ctx, batch: str, lake: Lake) -> None:
    """Set-up: the lake as the previous refresh left it, from ``batch``:
    the fact table, the weather feed drained once by the stream, and the
    snapshots. Warms the ingest, stream and snapshot paths."""
    os.makedirs(f"{lake.root}/snapshots", exist_ok=True)
    st = _Steps(ctx, lake)
    ev = ctx.spark.read.parquet(batch)
    st.create(ev)
    st.ingest(ev)
    st.append(ev)
    st.drain()
    st.models(ELT_AS_OF, full=False)
    st.snapshots(ELT_AS_OF)
    st.release_run()


def elt_refresh(ctx, batch: str, lake: Lake) -> Pass:
    """The timed refresh of ``lake`` with the day's ``batch``, in DAG
    order: the ingest (trips MERGE and weather append), the stream drain,
    the models, marts and snapshots, then the forecast chain once the marts
    are fresh. Each step is one operation."""
    st = _Steps(ctx, lake)
    as_of = ELT_AS_OF + timedelta(hours=1)
    ev = ctx.spark.read.parquet(batch)
    p = Pass()

    def step(name, fn, writes=()):
        ctx.tracer.next_op()
        before = ctx.write_probe(writes)
        c0 = ctx.cpu_s()
        t0 = time.perf_counter()
        ok = True
        try:
            fn()
        except Exception:
            _report_failure(name)
            ok = False
        t1 = time.perf_counter()
        p.ops.append(Op(name, t1 - t0, ok, ctx.cpu_s() - c0))
        ctx.write_probe(writes, before)

    def ingest():
        st.ingest(ev)
        st.append(ev)

    step("ingest", ingest, [lake.fact, lake.weather])
    step("drain", st.drain)
    step("models", lambda: st.models(as_of))
    step("persist", st.persist, [lake.marts])
    step("snapshots", lambda: st.snapshots(as_of), [lake.snap_w, lake.snap_d])
    step("forecast", st.forecast)
    st.release_run()
    return p


def check_elt(lake: Lake, batches: list[str]) -> Op:
    from check import elt_mismatch

    return checked("refresh", lambda: elt_mismatch(
        batches, lake.fact, f"{lake.marts}/mart_daily_metrics"))
