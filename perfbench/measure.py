"""One benchmark run: set-up, the timed passes, the output check and the
metrics. ``run.py`` prepares the environment and calls :func:`measure`.

Set-up starts the session and warms it: the read-only mix answers every
query once, the ELT refresh fills its lake from the previous batch. The
timed work then runs warm: ``analyst_mix`` makes ``PASSES`` passes over
its mix and takes each query's median, ``elt_refresh`` refreshes the lake
once. Registry queries are collected, so their results are checked
against their DuckDB oracles afterwards; the ELT refresh's lake is checked
the same way.

The bounded timing metric is CPU time, not wall time. On a shared host the
wall time of the same run moves by half when other tenants load the
cores, for whole runs at a time; the CPU time the benchmark's processes
are charged moves far less, because time spent waiting for a core is not
charged. Wall times are printed beside the result and reported by the
traced run.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import asdict

import eventlog
import inputs
import workloads as wl
from spans import Tracer, self_time_by_layer

# the scale the oracle gate verifies; fixed costs dominate at every scale
# the test data comes in
SF = 0.01
# input generation, the part of set-up that needs no second JVM, runs this
# many times per run; setup_s takes the median
SETUP_REPS = 3
# timed passes of analyst_mix in an untraced run; a traced run times one,
# so its counts repeat. The count is fixed rather than set by --seconds:
# the JIT keeps compiling through the passes, so a query's CPU time falls
# from pass to pass and the median depends on how many passes ran
PASSES = 5
LAYERS = ("queries", "catalyst", "spark", "sources", "operators", "plans", "streaming", "ml")
ELT_SPANS = (
    "plans.pipeline.run_models", "plans.pipeline.persist_marts",
    "plans.pipeline.run_snapshots", "plans.pipeline.run_forecast_chain",
    "operators.merge.merge_into_path", "sources.sinks.append",
    "streaming.weather_stream.drain",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(max(x, 1e-6)) for x in xs))


def dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + b"\0" + fh.read())
    return h.hexdigest()


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every process under it, each with the
    reaped children it waited for. A child that exits moves its time into
    its parent's count, so the sum only grows by the work done."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while we looked
            # after the name: state, ppid, ... utime, stime, cutime, cstime
            stats[int(name)] = (int(fields[1]), sum(map(int, fields[11:15])))
    kids = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        kids[ppid].append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(kids[pid])
    return ticks / _TICK


def op_medians(passes, attr: str = "seconds") -> dict[str, float]:
    """Operation name -> median of ``attr`` over the passes it ran in."""
    by_name = defaultdict(list)
    for p in passes:
        for o in p.ops:
            by_name[o.name].append(getattr(o, attr))
    return {name: statistics.median(xs) for name, xs in by_name.items()}


def _peak_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_peak_rss(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(pids) -> float:
    return sum(_peak_kb(pid) for pid in pids) / 1024.0


class Bench:
    """The context the workloads run in: session, tracer, paths, counters."""

    def __init__(self, args, scratch) -> None:
        self.args = args
        self.s = scratch
        self.workload = args.workload
        self.input_dir = scratch.inputs
        self.spark = None
        self.tracer = Tracer(False)
        self.group_alias: dict[str, str] = {}
        self.write_stats = [0, 0]  # bytes, files
        self.batches: list[str] = []
        self.gen_s: list[float] = []
        self.start_s = 0.0
        self.warm_s = 0.0
        self.lake = wl.Lake(os.path.join(scratch.out, "lake"))
        self.input_bytes = 0
        self.lake_bytes = 0
        self.queries = None
        self.oracle_digests = {}

    # hooks the workloads call -------------------------------------------------
    def cpu_s(self) -> float:
        return tree_cpu_s(os.getpid())

    def write_probe(self, paths, before=None):
        """With tracing on: the bytes and files under ``paths``. Called again
        with the first reading, it adds what the write in between left."""
        if not self.tracer.traced or not paths:
            return None
        from check import tree_bytes

        now = tree_bytes(*paths)
        if before is not None:
            self.write_stats[0] += max(0, now[0] - before[0])
            self.write_stats[1] += max(0, now[1] - before[1])
        return now

    # set-up -------------------------------------------------------------------
    def make_inputs(self) -> str:
        if self.workload != "elt_refresh":
            inputs.generate(self.s.inputs, self.args.seed, SF)
        else:
            tables = os.path.join(self.s.sys, "tables")
            inputs.generate(tables, self.args.seed, SF)
            self.batches = inputs.split_batches(
                os.path.join(tables, "events.parquet"), self.s.inputs,
                self.args.seed, wl.ELT_BATCHES, wl.ELT_REDELIVER,
            )
        return dir_digest(self.s.inputs)

    def set_up(self, pool) -> bool:
        """Generate the inputs ``SETUP_REPS`` times (the set-up work that can
        be repeated without a second JVM), start the oracles on ``pool``,
        then start the session. True when every repetition wrote
        byte-identical inputs."""
        from check import tree_bytes

        digests = set()
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            shutil.rmtree(self.s.inputs, ignore_errors=True)
            digests.add(self.make_inputs())
            self.gen_s.append(time.perf_counter() - t0)
        self.input_bytes = tree_bytes(self.s.inputs)[0]
        import __spark_entry__ as entry

        if self.workload != "elt_refresh":
            # the DuckDB side of the output check only needs the inputs, so
            # it runs while the JVM starts
            from check import oracle_digests

            self.queries, oracles = entry.queries(), entry.oracle_sql()
            self.oracle_digests = oracle_digests(
                pool, self.input_dir, {n: oracles[n] for n in wl.ANALYST_MIX}
            )
        from nyc_taxi_data_warehouse_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{nproc()}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.warm_up()
        self.start_s, self.warm_s = t1 - t0, time.perf_counter() - t1
        return len(digests) == 1

    def warm_up(self) -> None:
        """The untimed warm pass: the read-only mix answers every query
        once, so the JIT, the code generator and the engine's memos have
        seen them; the ELT refresh fills its lake from the previous batch."""
        if self.workload == "elt_refresh":
            wl.seed_lake(self, self.batches[0], self.lake)
        else:
            wl.registry_pass(self, wl.ANALYST_MIX)

    # tracing ------------------------------------------------------------------
    def wrap_inner_layers(self):
        """Time the engine's inner layer calls from outside by wrapping
        module attributes; returns what to restore."""
        from nyc_taxi_data_warehouse_spark.ml import forecast
        from nyc_taxi_data_warehouse_spark.operators import scd
        from nyc_taxi_data_warehouse_spark.plans import nyc_views

        targets = [
            (nyc_views, "load_tables", "sources.load_tables"),
            (scd, "snapshot_timestamp", "operators.scd.snapshot_timestamp"),
            (scd, "snapshot_check", "operators.scd.snapshot_check"),
            (forecast, "train", "ml.forecast.train"),
            (forecast, "forecast_7day", "ml.forecast.forecast_7day"),
            (forecast, "hindcast_eval", "ml.forecast.hindcast_eval"),
        ]
        undo = []
        for mod, attr, name in targets:
            orig = getattr(mod, attr)

            def wrapped(*a, _orig=orig, _name=name, **kw):
                with self.tracer.span(_name):
                    return _orig(*a, **kw)

            setattr(mod, attr, wrapped)
            undo.append((mod, attr, orig))
        return undo

    # the timed passes ---------------------------------------------------------
    def run_passes(self) -> list[wl.Pass]:
        """The timed work. Sets ``lake_bytes``: for the ELT refresh the lake
        it wrote; for the read-only mix the tables it queried (the inputs)
        plus anything it wrote."""
        from check import tree_bytes

        if self.workload == "elt_refresh":
            p = wl.elt_refresh(self, self.batches[1], self.lake)
            self.lake_bytes = tree_bytes(self.lake.root)[0]
            return [p]
        n = 1 if self.tracer.traced else PASSES
        passes = [wl.registry_pass(self, wl.analyst_order(self.args.seed, k)) for k in range(n)]
        self.lake_bytes = self.input_bytes + tree_bytes(self.s.out)[0]
        return passes

    def check_passes(self, passes: list[wl.Pass]) -> list[wl.Op]:
        """The untimed output check of every timed pass."""
        if self.workload == "elt_refresh":
            return [wl.check_elt(self.lake, self.batches)]
        return [op for p in passes for op in wl.check_results(p, self.oracle_digests)]

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def measure(args, scratch) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    b = Bench(args, scratch)
    with ThreadPoolExecutor(1) as pool:
        try:
            return _measure(b, pool)
        finally:
            b.stop()


def _env(b: Bench) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": b.workload, "seed": b.args.seed, "sf": SF,
        "seconds": b.args.seconds, "trace": b.args.trace, "nproc": nproc(),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }


def _measure(b: Bench, pool) -> dict:
    checks = [] if b.set_up(pool) else [wl.Op("same_seed_same_inputs", 0.0, False)]
    print(json.dumps({"perfbench": _env(b)}), flush=True)
    for fut in b.oracle_digests.values():
        fut.exception()  # nothing else may compete for the CPU once timing starts
    pids = [os.getpid(), b.spark.sparkContext._gateway.proc.pid]
    reset_peak_rss(pids)
    if b.args.trace:
        b.tracer = Tracer(True, b.spark)
        undo = b.wrap_inner_layers()
    try:
        passes = b.run_passes()
    finally:
        if b.args.trace:
            for mod, attr, orig in undo:
                setattr(mod, attr, orig)
            b.tracer.close()
    rss_mb = peak_rss_mb(pids)
    ops = checks + [o for p in passes for o in p.ops] + b.check_passes(passes)
    failed = sum(not o.ok for o in ops)
    if b.args.trace:
        app = b.spark.sparkContext.applicationId
        b.stop()  # flushes and closes the event log
        with open(os.path.join(b.s.eventlog, app)) as fh:
            stats = eventlog.reduce_events(fh, b.group_alias)
        for sp in b.tracer.spans:
            print(json.dumps({"span": asdict(sp)}))
        metrics = per_layer(b, passes[0], stats, rss_mb)
    else:
        metrics = end_to_end(b, passes, ops)
    for p in passes:
        print(json.dumps({"pass_s": round(p.seconds, 4), "pass_cpu_s": round(p.cpu_s, 2),
                          "ops": [[o.name, round(o.seconds, 4), round(o.cpu_s, 2)] for o in p.ops]}))
    secs = op_medians(passes)
    print(json.dumps({
        "wall_s": round(sum(secs.values()), 4), "op_geomean_s": round(geomean(secs.values()), 4),
        "failed_frac": failed / len(ops), "session_start_s": round(b.start_s, 3),
        "warm_s": round(b.warm_s, 3), "input_gen_s": [round(x, 3) for x in b.gen_s],
    }))
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def _m(value, unit) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(b: Bench, passes: list[wl.Pass], ops) -> dict:
    """``cpu_s`` is a pass's CPU time, from each operation's median over the
    passes."""
    return {
        "setup_s": _m(b.start_s + b.warm_s + statistics.median(b.gen_s), "s"),
        "cpu_s": _m(sum(op_medians(passes, "cpu_s").values()), "s"),
        "ok_frac": _m(sum(o.ok for o in ops) / len(ops), "frac"),
        "lake_bytes_per_input_byte": _m(b.lake_bytes / b.input_bytes, "B/B"),
    }


def per_layer(b: Bench, p: wl.Pass, stats, rss_mb: float) -> dict:
    """Span times and event-log counts of the pass. A span's jobs are those
    of its own job group and of its descendants'."""
    spans = b.tracer.spans
    by_id = {sp.id: sp for sp in spans}

    def root(sp):
        while sp.parent is not None:
            sp = by_id[sp.parent]
        return sp

    secs: dict[str, float] = defaultdict(float)
    py4j: dict[str, int] = defaultdict(int)
    sub: dict[str, eventlog.GroupStats] = defaultdict(eventlog.GroupStats)
    for sp in spans:
        secs[sp.name] += sp.seconds
        if sp.parent is None:
            py4j[sp.name] += sp.py4j_calls
        if sp.group in stats:
            sub[root(sp).name].add(stats[sp.group])
    all_ = eventlog.GroupStats()
    for st in sub.values():
        all_.add(st)
    mb = 1e6
    m = {
        "session.start_s": _m(b.start_s, "s"),
        "session.warm_s": _m(b.warm_s, "s"),
        "session.input_gen_s": _m(statistics.median(b.gen_s), "s"),
        # peak RSS of the JVM and the Python driver; garbage-collection
        # timing spreads it by a quarter from run to run, wider than any
        # end-to-end bound allows
        "session.driver_peak_rss_mb": _m(rss_mb, "MB"),
        "queries.build_s": _m(secs["queries.build"], "s"),
        "queries.build_jobs": _m(sub["queries.build"].jobs, "count"),
        "queries.build_py4j_calls": _m(py4j["queries.build"], "count"),
        "catalyst.plan_s": _m(secs["catalyst.plan"], "s"),
        "spark.exec_s": _m(secs["spark.exec"], "s"),
        "spark.exec_jobs": _m(sub["spark.exec"].jobs, "count"),
        "spark.jobs": _m(all_.jobs, "count"),
        "spark.stages": _m(all_.stages, "count"),
        "spark.tasks": _m(all_.tasks, "count"),
        "spark.task_s": _m(all_.task_ms / 1e3, "s"),
        "spark.sched_delay_s": _m(all_.sched_delay_ms / 1e3, "s"),
        "spark.deser_s": _m(all_.deser_ms / 1e3, "s"),
        "spark.gc_s": _m(all_.gc_ms / 1e3, "s"),
        "spark.shuffle_write_mb": _m(all_.shuffle_write_bytes / mb, "MB"),
        "spark.spill_mb": _m(all_.spill_bytes / mb, "MB"),
        "spark.task_skew": _m(all_.task_skew, "ratio"),
        "spark.failed_tasks": _m(all_.failed_tasks, "count"),
        "spark.tiny_task_frac": _m(all_.tiny_tasks / max(all_.tasks, 1), "frac"),
        "sources.load_tables_s": _m(secs["sources.load_tables"], "s"),
        "sources.sinks.bytes_written": _m(b.write_stats[0], "B"),
        "sources.sinks.files_written": _m(b.write_stats[1], "count"),
    }
    for name in ELT_SPANS:
        m[f"{name}_s"] = _m(secs[name], "s")
    for name in ("plans.pipeline.run_models", "plans.pipeline.run_forecast_chain"):
        m[f"{name}_jobs"] = _m(sub[name].jobs, "count")
    self_s = self_time_by_layer(spans)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = _m(self_s.get(layer, 0.0), "s")
    # the event log's cost shows only against an untraced run: trace.wall_s
    # minus the wall_s an untraced run prints before its result is the
    # whole tracing overhead (on analyst_mix the traced pass is the first
    # after the warm one, which runs slower than the median pass)
    m["trace.bookkeeping_s"] = _m(b.tracer.overhead_s, "s")
    m["trace.wall_s"] = _m(p.seconds, "s")
    m["trace.op_geomean_s"] = _m(geomean(o.seconds for o in p.ops), "s")
    m["trace.cpu_s"] = _m(p.cpu_s, "s")
    return m
