"""Driver-contract registry rules: each query module's ``ORACLES`` dict is
the only registration, and the registry order (the driver's 50-slot check
window) follows from the committed driver ``CORRECTNESS_r<N>.json`` files.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os

import pytest

import __spark_entry__ as entry

MODULES = [
    importlib.import_module(f"nyc_taxi_data_warehouse_spark.{m}")
    for m in entry._MODULES
]


@pytest.mark.parametrize("mod", MODULES, ids=lambda m: m.__name__)
def test_module_q_functions_are_exactly_its_oracles(mod):
    fns = {
        n for n, f in vars(mod).items()
        if n.startswith("q_") and inspect.isfunction(f)
        and f.__module__ == mod.__name__
    }
    assert fns == set(mod.ORACLES), (
        f"unregistered: {sorted(fns - set(mod.ORACLES))}; "
        f"orphan oracles: {sorted(set(mod.ORACLES) - fns)}"
    )


def test_every_query_has_an_oracle_twin():
    qs, sql = entry.queries(), entry.oracle_sql()
    assert list(qs) == list(sql)
    assert len(qs) == sum(len(m.ORACLES) for m in MODULES) == 330
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in sql.values())


def _row(ok: bool = True, err: str | None = None) -> dict:
    return {"rows_match": ok, "schema_match": True, "hash_match": ok,
            "spark_rows": 1, "oracle_rows": 1, "err": err}


def _write(tmp_path, fname: str, rows: dict) -> None:
    (tmp_path / fname).write_text(json.dumps(rows))


def test_order_rule_on_synthetic_driver_files(tmp_path):
    names = ["q_a", "q_b", "q_c", "q_d", "q_e", "q_new", "q_prio",
             "q_enrich", "q_daily"]
    _write(tmp_path, "CORRECTNESS_r1.json",
           {"q_a": _row(), "q_b": _row(), "q_enrich": _row(), "q_c": _row()})
    _write(tmp_path, "CORRECTNESS_r2.json",
           {"q_c": _row(ok=False), "q_d": _row(err="boom"), "q_daily": _row()})
    _write(tmp_path, "CORRECTNESS_r3.json",
           {"q_a": _row(), "q_e": _row(), "q_prio": _row(), "q_gone": _row()})
    # local-run rows are not driver evidence
    _write(tmp_path, "CORRECTNESS_builder_r9.json",
           {n: _row() for n in names})
    rounds = entry.driver_rounds(str(tmp_path))
    assert sorted(rounds) == [1, 2, 3]
    order = entry.check_order(names, rounds, ["q_prio", "q_missing"])
    assert sorted(order) == sorted(names)
    # priority, then the flagship last passed in r1 (3 rounds ago, due);
    # q_daily passed in r2 (2 rounds ago counting this one) and is due too
    assert order[:3] == ["q_prio", "q_enrich", "q_daily"]
    # failed (q_d: err, q_c: r2 mismatch → r1) and missing rows sort first
    assert order[3:] == ["q_d", "q_new", "q_b", "q_c", "q_a", "q_e"]


def test_fresh_flagship_is_not_promoted(tmp_path):
    _write(tmp_path, "CORRECTNESS_r4.json", {"q_enrich": _row()})
    _write(tmp_path, "CORRECTNESS_r3.json", {"q_a": _row()})
    order = entry.check_order(
        ["q_a", "q_enrich", "q_z"], entry.driver_rounds(str(tmp_path)), []
    )
    assert order == ["q_z", "q_a", "q_enrich"]


def test_registry_order_is_deterministic_and_window_prioritized():
    here = os.path.dirname(os.path.abspath(entry.__file__))
    rounds = entry.driver_rounds(here)
    qs = list(entry.queries())
    assert qs == list(entry.queries())
    prio = entry._PRIORITY
    assert len(prio) == len(set(prio)) and set(prio) <= set(qs)
    assert qs[: len(prio)] == prio
    last = dict.fromkeys(qs, 0)
    for rnd, rows in rounds.items():
        for n, r in rows.items():
            if n in last and r["err"] is None and r["rows_match"] \
                    and r["schema_match"] and r["hash_match"]:
                last[n] = max(last[n], rnd)
    due = [n for n in entry.FLAGSHIPS
           if n not in prio and max(rounds) + 1 - last[n] >= 2]
    head = len(prio) + len(due)
    assert qs[len(prio):head] == due
    stale = [last[n] for n in qs[head:50]]
    assert stale == sorted(stale)
    assert max(stale) <= min(last[n] for n in qs[50:])
