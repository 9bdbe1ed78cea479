"""tools/scale_probe.py: the grown sf directory adds no key collisions and
keeps every join consistent, and the real registry queries run on it; plus
an import smoke test for every tool script."""

from __future__ import annotations

import filecmp
import glob
import importlib.util
import os

import pytest
from pyspark.sql import functions as F

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load_tool(path: str):
    name = "tools_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


sp = _load_tool(os.path.join(TOOLS, "scale_probe.py"))


@pytest.fixture(scope="module")
def grown(spark, sf_dir, tmp_path_factory):
    return sp.grow_dir(spark, sf_dir, 2, root=str(tmp_path_factory.mktemp("probe")))


def _read(spark, d, t):
    return spark.read.parquet(f"{d}/{t}.parquet")


def test_grown_dir_doubles_facts_and_copies_dimensions(spark, sf_dir, grown):
    assert os.path.exists(os.path.join(grown, "_COMPLETE"))
    for t in sp.FACTS:
        src, out = _read(spark, sf_dir, t), _read(spark, grown, t)
        assert out.count() == 2 * src.count(), t
        assert out.dtypes == src.dtypes, t
    for t in sp.DIMENSIONS:
        assert filecmp.cmp(f"{sf_dir}/{t}.parquet", f"{grown}/{t}.parquet", shallow=False)


@pytest.mark.parametrize(
    "table,key",
    [
        ("documents", ["doc_id"]),
        ("embeddings", ["vec_id"]),
        ("events", ["event_id"]),
        ("orders", ["o_orderkey"]),
        ("lineitem", ["l_orderkey", "l_linenumber"]),
    ],
)
def test_grown_keys_unique(spark, sf_dir, grown, table, key):
    """Replicas never collide: the distinct key count exactly doubles, so
    a key unique in the source stays unique.  (The test data repeats
    about 23% of its (l_orderkey, l_linenumber) pairs at every sf; growth
    keeps those repeats and adds none.)"""
    src, out = _read(spark, sf_dir, table), _read(spark, grown, table)
    n_src = src.select(*key).distinct().count()
    assert out.select(*key).distinct().count() == 2 * n_src
    if table != "lineitem":
        assert n_src == src.count()


def test_grown_lineitems_all_have_an_order(spark, grown):
    li, o = _read(spark, grown, "lineitem"), _read(spark, grown, "orders")
    assert li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti").count() == 0


def test_grown_event_replicas_occupy_disjoint_eras(spark, sf_dir, grown):
    """Replica r sits r eras later: its whole span starts after replica
    r-1's ends, so temporal joins only ever match within one replica."""
    spans = (
        _read(spark, grown, "events")
        .groupBy((F.col("event_id") % 2).alias("rep"))
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .orderBy("rep")
        .collect()
    )
    assert spans[0].hi < spans[1].lo


def test_dir_key_depends_on_source_and_multiple(tmp_path):
    a, b = str(tmp_path / "sf_a"), str(tmp_path / "sf_b")
    assert sp.dir_key(a, 4) != sp.dir_key(b, 4)
    assert sp.dir_key(a, 4) != sp.dir_key(a, 8)
    assert sp.dir_key(a, 4) == sp.dir_key(a + "/", 4)


@pytest.mark.parametrize(
    "name", ["q_tpch_q1", "q_daily", "q_top_terms", "q_knn_bruteforce"]
)
def test_registry_query_runs_on_grown_dir(spark, grown, name):
    """One real query per grown family (TPC-H facts, events, documents,
    embeddings) runs on the grown dir through the probe's timing path."""
    import __spark_entry__ as entry_mod

    fn = entry_mod.queries()[name]
    assert fn(spark, grown).limit(1).count() == 1
    rec = sp.time_query(spark, fn, grown)
    assert rec["exec_jobs"] >= 1 and rec["total_s"] > 0


def test_stream_micro_batch_jobs_are_counted(spark, sf_dir):
    """A drain's micro-batches run under the stream's own job group; the
    probe still counts them toward the build phase."""
    import __spark_entry__ as entry_mod

    rec = sp.time_query(spark, entry_mod.queries()["q_stream_hourly"], sf_dir)
    assert rec["stream_jobs"] > 0
    assert rec["build_jobs"] >= rec["stream_jobs"]


def test_repeat_run_compiles_nothing(spark, sf_dir):
    """Each phase reports the classes it compiled; a repeat run of a query
    finds all of them in the session's codegen cache."""
    import __spark_entry__ as entry_mod

    fn = entry_mod.queries()["q_tpch_q1"]
    sp.time_query(spark, fn, sf_dir)
    rec = sp.time_query(spark, fn, sf_dir)
    assert (rec["build_compiles"], rec["exec_compiles"]) == (0, 0)


def test_phases_report_jit_time(spark, sf_dir):
    """Each phase reports the JIT compile milliseconds it spent; the
    counter only grows, so both fields are present and never negative."""
    import __spark_entry__ as entry_mod

    rec = sp.time_query(spark, entry_mod.queries()["q_tpch_q1"], sf_dir)
    assert rec["build_jit_ms"] >= 0 and rec["exec_jit_ms"] >= 0


def test_plan_writer_writes_a_formatted_plan(spark, tmp_path):
    """``--plans`` writes the frame's formatted plan, making the tag dir."""
    path = sp.write_plan(
        spark.range(3).where("id > 0"), str(tmp_path / "tag" / "q_x_m1.txt")
    )
    with open(path) as f:
        txt = f.read()
    assert txt.startswith("== Physical Plan ==") and "Filter" in txt


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(TOOLS, "*.py"))), ids=os.path.basename
)
def test_tool_imports(path):
    """Every tool script imports without side effects beyond definitions."""
    assert callable(_load_tool(path).main)
