"""Session defaults derive from the host unless the env overrides them, and
a session keeps the code it generated compiled."""

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
