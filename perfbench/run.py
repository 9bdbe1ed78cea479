"""Benchmark of the engine's public functions on two closed-loop workloads.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The seed makes the inputs (written under a
per-invocation scratch directory that is removed at exit); the run starts
a session, warms it, times a fixed amount of work warm and checks its
outputs against DuckDB: ``analyst_mix`` makes five passes over its
queries, ``elt_refresh`` refreshes its lake once (20-40 s each on four
cores); ``--seconds`` is recorded with the result but does not change
the work, so the figures do not depend on how fast the host ran. The last
line of stdout is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics from spans and the Spark event log with ``--trace 1``
(whose spans are printed before it, one JSON line each). Exits non-zero
without a result when the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nyc_taxi_data_warehouse_spark"
WORKLOADS = ("analyst_mix", "elt_refresh")
DRIVER_MEM = "4g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Scratch:
    """Every path a run writes to, under one root. ``data`` holds the
    generated inputs and everything the engine persists; ``sys`` holds
    Spark's local dirs, the event log and warm-up files."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.inputs = os.path.join(root, "data", "inputs")
        self.out = os.path.join(root, "data", "out")
        self.warehouse = os.path.join(self.out, "warehouse")
        self.checkpoints = os.path.join(self.out, "checkpoints")
        self.tmp = os.path.join(self.out, "tmp")
        self.sys = os.path.join(root, "sys")
        self.local = os.path.join(self.sys, "local")
        self.eventlog = os.path.join(self.sys, "eventlog")
        self.jtmp = os.path.join(self.sys, "jtmp")
        for d in (self.inputs, self.warehouse, self.checkpoints, self.tmp,
                  self.local, self.eventlog, self.jtmp):
            os.makedirs(d, exist_ok=True)


def configure_env(s: Scratch, traced: bool) -> None:
    """Process environment for the Spark launch. The engine's plan knobs are
    cleared, so the benchmark times the plan the oracle gate verifies."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = s.tmp
    os.environ["SPARK_LOCAL_DIRS"] = s.local
    import tempfile

    tempfile.tempdir = s.tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": s.warehouse,
        "spark.sql.streaming.checkpointLocation": s.checkpoints,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={s.jtmp} -Dderby.system.home={s.sys}",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + s.eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, PACKAGE))):
        print(f"perfbench: {PACKAGE}/ and __spark_entry__.py not found in {ROOT}",
              file=sys.stderr)
        return 2
    scratch = Scratch(os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}"))
    try:
        configure_env(scratch, bool(args.trace))
        sys.path[:0] = [HERE, ROOT]
        from measure import measure

        result = measure(args, scratch)
    finally:
        shutil.rmtree(scratch.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch.root))
        except OSError:
            pass  # another run is still using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
