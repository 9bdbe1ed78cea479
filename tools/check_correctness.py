"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column-name sets,
an order-insensitive value multiset, AND canonical column types.

The type check exists because the driver's value hash is integer-width
sensitive: DuckDB widens ``sum(BIGINT)`` to HUGEINT (int128) while Spark
emits BIGINT, and ``str(v)`` erases that difference (round-1 lesson:
q_scd2_check / q_decontaminate passed here but failed the driver).  We fetch
the DuckDB side through Arrow (HUGEINT surfaces as decimal128(38,0)) and
require the canonical type of every column to match Spark's declared schema
— strictly stronger than the driver's check, so replica PASS implies driver
PASS.  Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
    python tools/check_correctness.py --changed=<git-ref> [sf_dir]

``--changed=<git-ref>`` gates every query whose implementation could have
changed since <git-ref>: it git-diffs the engine package, builds the
package-internal import graph (AST-level), and selects the registry
queries whose defining module transitively imports any changed module.
This is the evidence-can't-outrun-code mode (round-9 VERDICT item 8):
run it with the ref of the last full sweep before committing a round.
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime

import duckdb
import pyarrow as pa

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from nyc_taxi_data_warehouse_spark.plans.nyc_views import TABLES
from nyc_taxi_data_warehouse_spark.session import get_spark


def canon_spark_type(dt) -> str:
    from pyspark.sql import types as ST

    if isinstance(dt, ST.ArrayType):
        return f"list<{canon_spark_type(dt.elementType)}>"
    if isinstance(dt, ST.StructType):
        return "struct"
    if isinstance(dt, ST.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    name = dt.simpleString()
    if name.startswith("timestamp"):
        return "timestamp"
    return {
        "boolean": "bool",
        "tinyint": "int8",
        "smallint": "int16",
        "int": "int32",
        "bigint": "int64",
        "float": "float32",
        "double": "float64",
        "string": "string",
        "date": "date",
        "binary": "binary",
    }.get(name, name)


def canon_arrow_type(t: pa.DataType) -> str:
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_arrow_type(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_float64(t):
        return "float64"
    return str(t)  # int8..int64 stringify to their canonical names


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return out


def _pkg_import_graph(root: str) -> dict[str, set[str]]:
    """module -> set of package-internal modules it imports (AST-level).
    Module names are dotted, rooted at the repo ('__spark_entry__' or
    'nyc_taxi_data_warehouse_spark.…')."""
    import ast
    import os

    pkg = "nyc_taxi_data_warehouse_spark"
    mods: dict[str, str] = {"__spark_entry__": os.path.join(root, "__spark_entry__.py")}
    for dirpath, _dirs, files in os.walk(os.path.join(root, pkg)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            name = rel[:-3].replace(os.sep, ".")
            if name.endswith(".__init__"):
                name = name[: -len(".__init__")]
            mods[name] = os.path.join(dirpath, f)
    known = set(mods)
    graph: dict[str, set[str]] = {m: set() for m in mods}

    def resolve(cur: str, target: str, level: int) -> str | None:
        if level:  # relative import: climb from the current module
            base = cur.split(".")
            base = base[: len(base) - level]
            target = ".".join(base + ([target] if target else []))
        # longest known prefix (import of a symbol FROM a module)
        parts = target.split(".")
        for i in range(len(parts), 0, -1):
            cand = ".".join(parts[:i])
            if cand in known:
                return cand
        return None

    for name, path in mods.items():
        try:
            tree = ast.parse(open(path).read())
        except SyntaxError:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    r = resolve(name, a.name, 0)
                    if r:
                        graph[name].add(r)
            elif isinstance(node, ast.ImportFrom):
                base = resolve(name, node.module or "", node.level)
                if base:
                    graph[name].add(base)
                for a in node.names:  # `from pkg import submodule`
                    r = resolve(
                        name,
                        ((node.module + ".") if node.module else "") + a.name,
                        node.level,
                    )
                    if r:
                        graph[name].add(r)
    return graph


def _changed_queries(ref: str, qs: dict) -> set[str]:
    """Queries whose defining module transitively imports a module
    changed since git ``ref`` (over-approximates: any reachable change
    selects the query; a query is never silently skipped because the
    change sat in a helper module)."""
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    diff = subprocess.run(
        ["git", "diff", "--name-only", ref, "--",
         "nyc_taxi_data_warehouse_spark", "__spark_entry__.py"],
        capture_output=True, text=True, cwd=root, check=True,
    ).stdout.split()
    changed = {
        p[:-3].replace("/", ".").replace(".__init__", "")
        for p in diff
        if p.endswith(".py")
    }
    if not changed:
        return set()
    graph = _pkg_import_graph(root)
    # transitive closure: affected = changed ∪ importers-of-affected
    affected = set(changed)
    moved = True
    while moved:
        moved = False
        for m, deps in graph.items():
            if m not in affected and deps & affected:
                affected.add(m)
                moved = True
    return {n for n, fn in qs.items() if fn.__module__ in affected}


def main() -> int:
    # PySpark collect() converts TIMESTAMP values with the process's local
    # zone while DuckDB returns naive values, so off UTC every TIMESTAMP
    # column would compare 5 h apart (say) and report false FAILs.
    if time.timezone or time.altzone:
        print(
            "check_correctness: the process time zone is not UTC "
            f"({time.tzname}); rerun with TZ=UTC",
            file=sys.stderr,
        )
        return 2
    args = [a for a in sys.argv[1:] if not a.startswith("--changed")]
    changed_ref = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--changed=")),
        None,
    )
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # CHECK_JSON_OUT=<path>: also write driver-shaped rows
    # ({name: {rows_match, schema_match, hash_match, spark_rows,
    # oracle_rows, err}}) so a full-registry replica sweep records
    # evidence in the same format as CORRECTNESS_r{N}.json
    import json as _json
    import os as _os

    json_out = _os.environ.get("CHECK_JSON_OUT")
    report: dict[str, dict] = {}

    def _rec(name, *, rows=None, orows=None, schema=True, hashm=True,
             err=None, oracle=True):
        report[name] = {
            "rows_match": err is None and rows == orows,
            "schema_match": err is None and schema,
            # rows-only entries (no oracle) record hash_match: None so the
            # JSON evidence cannot be mistaken for an oracle-verified PASS
            "hash_match": (err is None and hashm) if oracle else None,
            "oracle": oracle,
            "spark_rows": rows,
            "oracle_rows": orows,
            "err": err,
        }

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    if changed_ref is not None:
        sel = _changed_queries(changed_ref, qs)
        print(f"--changed={changed_ref}: {len(sel)} of {len(qs)} queries affected")
        if not sel:
            print("\n0 passed, 0 failed")
            return 0
        only = (only & sel) if only else sel
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # release frames the previous query persisted (a queries()
        # callable returns an unconsumed plan and cannot unpersist —
        # cache lifetime is this harness's job, mirroring bench.py)
        spark.catalog.clearCache()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_types = {
                c.lower(): canon_spark_type(f.dataType)
                for c, f in zip(sdf.columns, sdf.schema.fields)
            }
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            _rec(name, err=f"spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"PASS {name}: rows-only ({len(s_rows)} rows, no oracle)")
            _rec(name, rows=len(s_rows), orows=len(s_rows), oracle=False)
            n_pass += 1
            continue
        try:
            tbl = con.execute(oracles[name]).arrow()
            d_cols = [c.lower() for c in tbl.schema.names]
            d_types = {
                c.lower(): canon_arrow_type(f.type)
                for c, f in zip(tbl.schema.names, tbl.schema)
            }
            pycols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            d_rows = list(zip(*pycols))
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            _rec(name, rows=len(s_rows), err=f"duckdb error: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL {name}: columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
            _rec(name, rows=len(s_rows), orows=len(d_rows), schema=False)
            n_fail += 1
            continue
        type_mismatch = {
            c: (s_types[c], d_types[c])
            for c in s_types
            if s_types[c] != d_types[c]
        }
        if type_mismatch:
            print(f"FAIL {name}: type mismatch (spark vs duck): {type_mismatch}")
            _rec(name, rows=len(s_rows), orows=len(d_rows), schema=False)
            n_fail += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
            _rec(name, rows=len(s_rows), orows=len(d_rows))
            n_fail += 1
            continue
        cs, cd = canon(s_rows, s_cols), canon(d_rows, d_cols)
        if cs != cd:
            bad = next(
                (i for i, (a, b) in enumerate(zip(cs, cd)) if a != b), None
            )
            print(f"FAIL {name}: value mismatch at sorted-row {bad}:")
            print(f"  spark: {cs[bad] if bad is not None else '?'}")
            print(f"  duck : {cd[bad] if bad is not None else '?'}")
            _rec(name, rows=len(s_rows), orows=len(d_rows), hashm=False)
            n_fail += 1
            continue
        print(f"PASS {name}: {len(s_rows)} rows, {dt:.1f}s")
        _rec(name, rows=len(s_rows), orows=len(d_rows))
        n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    if json_out:
        with open(json_out, "w") as fh:
            _json.dump(report, fh, indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
