"""Dump .explain('formatted') for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plan.py <tag> <suffix> [sf_dir] q_name [q_name...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from nyc_taxi_data_warehouse_spark.session import get_spark


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = "/root/testdata/sf0.1"
    if rest and not rest[0].startswith("q_"):
        sf_dir = rest.pop(0)
    qs = entry_mod.queries()
    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in rest:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)", flush=True)


if __name__ == "__main__":
    main()
