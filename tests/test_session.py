"""Session defaults derive from the host unless the env overrides them, a
session keeps the code it generated compiled, and its JVM runs with the
engine's JIT thresholds."""

from __future__ import annotations

import importlib.util
import os
import sys

from nyc_taxi_data_warehouse_spark import session


def _host(monkeypatch, cores: int, mem_gib: int) -> None:
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": mem_gib * 2**30 // page}
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cores)))
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host(monkeypatch, cores=4, mem_gib=15)
    assert session.default_cpus() == "4"
    assert session.default_driver_mem() == f"{15 * 1024 // 2}m"
    _host(monkeypatch, cores=64, mem_gib=256)
    assert session.default_cpus() == "64"
    assert session.default_driver_mem() == "16384m"  # the 16g ceiling


def test_env_overrides_the_host_defaults(monkeypatch):
    _host(monkeypatch, cores=4, mem_gib=15)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "16g")
    assert session.default_cpus() == "32"
    assert session.default_driver_mem() == "16g"


def _analyst_mix() -> list[str]:
    """The benchmark's BI mix, read from its workload module."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "workloads.py",
    )
    spec = importlib.util.spec_from_file_location("perfbench_workloads", path)
    mod = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # its dataclasses look the module up
    return list(mod.ANALYST_MIX)


def test_warm_mix_stops_compiling(spark, sf_dir):
    """The six analyst-mix queries compile 112 distinct classes at sf0.001,
    more than Spark's default 100-entry codegen cache holds; with the
    session's cache they stay compiled, so a third pass compiles none."""
    import __spark_entry__ as entry_mod

    queries, mix = entry_mod.queries(), _analyst_mix()

    def run_pass() -> int:
        c0 = session.codegen_compiles(spark)
        for name in mix:
            queries[name](spark, sf_dir).collect()
        return session.codegen_compiles(spark) - c0

    run_pass()
    run_pass()
    assert run_pass() == 0
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )


def test_load_tables_keeps_the_callers_conf(spark, sf_dir):
    """load_tables applies the runtime conf once per (session, sf_dir):
    conf a caller sets after the first load survives later loads."""
    from nyc_taxi_data_warehouse_spark.plans.nyc_views import load_tables

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    load_tables(spark, sf_dir)
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        load_tables(spark, sf_dir)
        assert [spark.conf.get(k) for k in keys] == ["false", "4"]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_session_jvm_runs_with_the_jit_options(spark):
    """get_spark starts the JVM with JIT_OPTIONS: each C2 threshold the
    running JVM reports equals the value the constant passes."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    want = dict(
        opt.removeprefix("-XX:").split("=") for opt in session.JIT_OPTIONS.split()
    )
    assert len(want) == 4
    assert {k: bean.getVMOption(k).getValue() for k in want} == want
    assert session.jit_compile_ms(spark) > 0
