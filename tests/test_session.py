"""Session defaults derive from the host unless the env overrides them."""

from __future__ import annotations

import os

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
