"""Growth and timing probe over the real registry queries.

Grows a copy of an sf directory to each multiple, then times the real
``__spark_entry__.queries()[name](spark, grown_dir)`` at every multiple,
so every number is a number for the plan that ships.  Per run it reports

- ``build_s``: the callable itself (driver-side frame construction plus
  any eager jobs the builder fires: stream drains, persists, collects);
- ``exec_s``: the noop write of the returned frame;
- ``jobs`` / ``stages``: what the two phases issued, read from the
  status tracker through one job group per phase.  A streaming drain's
  micro-batches run on the stream's own thread under a job group named
  by the query's ``runId``; a listener collects the run ids each phase
  starts and their jobs count toward that phase (``stream_jobs`` is
  their share).

Before timing a multiple it makes one untimed warm call there, so the
per-sf_dir ``session_memo`` entries (``load_tables`` handles,
``stream_feed`` staging, the ANN/PQ indexes and stores) are equally warm
at 1x and at 8x.  Between runs
the cache is cleared and both heaps are collected.

Usage:  python tools/scale_probe.py [sf_dir] [--mults=1,4,8] [--runs=N] q_name ...
        (defaults: /root/testdata/sf0.1, --mults=1,4,8, --runs=3)

Prints one ``PROBE`` JSON line per (query, multiple) as it finishes, then
one JSON summary: per query and multiple the run medians, and the growth
of the last multiple over the first for build, execute and their total.
The host load average is recorded per line; run on an idle host.

Growth writes one copy of the whole directory per multiple under
``<repo>/.probe_data/<source name>-<source path hash>/m<mult>`` and
writes ``_COMPLETE`` last; a complete copy is reused.  Replica ``r`` of
``mult``:

- orders, lineitem: order key ``k`` becomes ``k*mult + r`` and the date
  moves ``r`` days, so each replica is a disjoint order population
  against the same dimensions (line numbers are kept as they are);
- documents: ``doc_id*mult + r``, text shifted ``7r`` characters (and
  ``n_chars`` recomputed), so the corpus grows in content; exact copies
  would make every near-dup candidate set quadratic;
- embeddings: ``vec_id*mult + r``, first coordinate nudged by ``0.01r``;
- events: ``event_id`` and ``user_id`` become ``*mult + r`` and replica
  ``r`` moves into its own time era (the source's span in whole days
  times ``r``).  Jittering ``ts`` by seconds instead would densify the
  same join windows, and temporal-join matches would grow with the
  square of the multiple;
- region, nation, customer, supplier, part: copied unchanged.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as entry_mod
from nyc_taxi_data_warehouse_spark.session import get_spark

DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
FACTS = ("orders", "lineitem", "documents", "embeddings", "events")
PROBE_ROOT = os.path.join(REPO, ".probe_data")


def dir_key(sf_dir: str, mult: int) -> str:
    """Relative dir of the ``mult``x copy of ``sf_dir``: keyed by the
    source's resolved path AND the multiple, so a run on one sf dir never
    reuses a copy grown from another."""
    src = os.path.realpath(sf_dir)
    tag = hashlib.md5(src.encode()).hexdigest()[:10]
    return os.path.join(f"{os.path.basename(src)}-{tag}", f"m{mult}")


def grown_tables(spark: SparkSession, sf_dir: str, mult: int) -> dict[str, DataFrame]:
    """The five fact tables at ``mult``x rows, same schemas and column order."""
    rep = F.col("rep")

    def grow(table: str, **cols) -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        return df.select(
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("rep"), "*"
        ).select(*[cols[c].alias(c) if c in cols else F.col(c) for c in df.columns])

    def key(c: str):
        return F.col(c) * mult + rep

    lo, hi = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
        F.min("ts"), F.max("ts")
    ).first()
    era_days = (hi - lo).days + 1
    text = F.expr("substring(text, rep * 7 + 1)")
    return {
        "orders": grow(
            "orders",
            o_orderkey=key("o_orderkey"),
            o_orderdate=F.timestamp_add("DAY", rep, F.col("o_orderdate")),
        ),
        "lineitem": grow(
            "lineitem",
            l_orderkey=key("l_orderkey"),
            l_shipdate=F.timestamp_add("DAY", rep, F.col("l_shipdate")),
        ),
        "documents": grow(
            "documents", doc_id=key("doc_id"), text=text,
            n_chars=F.length(text).cast("long"),
        ),
        "embeddings": grow(
            "embeddings",
            vec_id=key("vec_id"),
            embedding=F.concat(
                F.array((F.element_at("embedding", 1) + rep * 0.01).cast("float")),
                F.slice("embedding", 2, F.size("embedding") - 1),
            ),
        ),
        "events": grow(
            "events",
            event_id=key("event_id"),
            user_id=key("user_id"),
            ts=F.col("ts") + F.make_interval(days=rep * era_days),
        ),
    }


def grow_dir(
    spark: SparkSession, sf_dir: str, mult: int, root: str = PROBE_ROOT
) -> str:
    """Path of the ``mult``x copy of ``sf_dir`` (``sf_dir`` itself at 1x),
    written on first use."""
    if mult == 1:
        return sf_dir
    out = os.path.join(root, dir_key(sf_dir, mult))
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for t in DIMENSIONS:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{out}/{t}.parquet")
    for t, df in grown_tables(spark, sf_dir, mult).items():
        df.write.parquet(f"{out}/{t}.parquet")
    open(marker, "w").close()
    return out


class _StreamRuns(StreamingQueryListener):
    """Collects the ``runId`` of every streaming query started while it is
    registered; a stream's micro-batch jobs run under that job group."""

    def __init__(self):
        self.run_ids: list[str] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _phase(spark: SparkSession, fn):
    """Run ``fn`` under a fresh job group: (result, seconds, jobs, stages,
    stream jobs), counting the micro-batch jobs of streams it starts."""
    sc = spark.sparkContext
    group = f"scale_probe_{uuid.uuid4().hex}"
    streams = _StreamRuns()
    spark.streams.addListener(streams)
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
    finally:
        spark.streams.removeListener(streams)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stream_jobs = [j for r in streams.run_ids for j in tracker.getJobIdsForGroup(r)]
    jobs = (tracker.getJobIdsForGroup(group) or []) + stream_jobs
    infos = [tracker.getJobInfo(j) for j in jobs]
    stages = sum(len(i.stageIds) for i in infos if i is not None)
    return out, dt, len(jobs), stages, len(stream_jobs)


def time_query(spark: SparkSession, fn, sf_dir: str) -> dict:
    """One build + noop-execute of a registry callable, then cache clear
    and GC on both sides so runs start from the same state."""
    df, build_s, bj, bs, b_stream = _phase(spark, lambda: fn(spark, sf_dir))
    _, exec_s, xj, xs, x_stream = _phase(
        spark, lambda: df.write.mode("overwrite").format("noop").save()
    )
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return {
        "build_s": round(build_s, 3),
        "exec_s": round(exec_s, 3),
        "total_s": round(build_s + exec_s, 3),
        "build_jobs": bj,
        "exec_jobs": xj,
        "stream_jobs": b_stream + x_stream,
        "stages": bs + xs,
    }


def probe(spark: SparkSession, fn, dirs: dict[int, str], runs: int):
    """Yield ``(mult, record)`` per multiple: one warm call, then the
    medians of ``runs`` timed runs (and the raw run totals).  Last yields
    ``("growth", ratios)``: last multiple over first, per phase."""
    report = {}
    for m, d in dirs.items():
        time_query(spark, fn, d)
        samples = [time_query(spark, fn, d) for _ in range(runs)]
        rec = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
        rec["runs_total_s"] = [s["total_s"] for s in samples]
        rec["load1"] = round(os.getloadavg()[0], 2)
        report[str(m)] = rec
        yield m, rec
    first, last = report[str(min(dirs))], report[str(max(dirs))]
    yield "growth", {
        f"{k}_growth": round(last[f"{k}_s"] / max(first[f"{k}_s"], 1e-3), 2)
        for k in ("build", "exec", "total")
    }


def main() -> None:
    sf_dir, mults, runs, names = "/root/testdata/sf0.1", (1, 4, 8), 3, []
    for a in sys.argv[1:]:
        if a.startswith("--mults="):
            mults = tuple(sorted({int(x) for x in a.split("=", 1)[1].split(",")}))
        elif a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        elif a.startswith("q_"):
            names.append(a)
        else:
            sf_dir = a
    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown or not names or runs < 1:
        raise SystemExit(
            "usage: scale_probe.py [sf_dir] [--mults=1,4,8] [--runs=N] q_name ..."
            + (f"\nunknown queries: {unknown}" if unknown else "")
        )
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {m: grow_dir(spark, sf_dir, m) for m in mults}
    summary: dict = {}
    for name in names:
        summary[name] = {}
        for m, rec in probe(spark, qs[name], dirs, runs):
            summary[name][str(m)] = rec
            print("PROBE " + json.dumps({"query": name, "mult": m, **rec}), flush=True)
    print(json.dumps({
        "sf_dir": sf_dir, "mults": list(mults), "runs": runs,
        "load_avg": [round(x, 2) for x in os.getloadavg()], "results": summary,
    }))


if __name__ == "__main__":
    main()
