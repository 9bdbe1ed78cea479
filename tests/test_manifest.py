"""Commit primitives (rename-free object-store transactionality):
put-if-absent, write_batch, the optimistic-commit loop and its conflict
limit."""

from __future__ import annotations

import json
import os
import re
import threading

import pytest

from nyc_taxi_data_warehouse_spark.sources import manifest as M

_V = re.compile(r"^v(\d+)\.json$")


def _committer(directory: str):
    """(head, target) callables of a ``v{N}.json`` log in ``directory``."""
    os.makedirs(directory, exist_ok=True)

    def head() -> int:
        vs = M.list_versions(directory, _V)
        return vs[-1] if vs else -1

    return head, lambda v: os.path.join(directory, f"v{v}.json")


def _payloads(directory: str) -> list[str]:
    out = []
    for v in M.list_versions(directory, _V):
        with open(os.path.join(directory, f"v{v}.json")) as f:
            out.append(f.read())
    return out


def test_overwrite_append_read_roundtrip(spark, tmp_path):
    """A versioned table built from the primitives alone: each version's
    commit payload is its file list, laid down by write_batch and
    published by commit_next. Overwrite drops prior files from the new
    snapshot; append keeps them; an old version stays readable."""
    d = str(tmp_path / "t")
    head, target = _committer(os.path.join(d, "_commits"))

    def files(v: int) -> list[str]:
        with open(target(v)) as f:
            return json.load(f)

    def read(v: int | None = None) -> list[int]:
        paths = files(head() if v is None else v)
        return sorted(r.id for r in spark.read.parquet(*paths).collect())

    def commit(df, mode: str) -> int:
        new = M.write_batch(df, os.path.join(d, "data"))
        return M.commit_next(
            head,
            target,
            lambda b: json.dumps(new if mode == "overwrite" else files(b) + new),
            "t",
        )

    assert head() == -1
    with pytest.raises(FileNotFoundError):
        read()

    assert commit(spark.range(5), "overwrite") == 0
    assert read() == list(range(5))

    assert commit(spark.range(5, 8), "append") == 1
    assert read() == list(range(8))

    # overwrite drops all prior files from the NEW snapshot...
    assert commit(spark.range(3), "overwrite") == 2
    assert read() == list(range(3))
    # ...while the old snapshot stays readable (time travel, slow readers)
    assert read(1) == list(range(8))


def test_concurrent_appends_both_land(tmp_path):
    """Two writers race a commit at the same version: put-if-absent lets
    exactly one win v_N; the loser's retry rebuilds against the winner's
    head, so BOTH payloads are in the log — no lost update."""
    d = str(tmp_path / "log")
    head, target = _committer(d)
    assert M.commit_next(head, target, lambda b: "base", "t") == 0
    # writer B observed head 0 too, but writer A commits v1 first
    assert M.commit_next(head, target, lambda b: f"a@{b}", "t") == 1
    assert not M.put_if_absent(target(1), "b@0")  # B's first attempt loses
    assert M.commit_next(head, target, lambda b: f"b@{b}", "t") == 2
    assert _payloads(d) == ["base", "a@0", "b@1"]


def test_threaded_appends_all_land(tmp_path):
    """N threads committing at once: every payload lands exactly once
    (the optimistic retry composes them) at distinct versions."""
    d = str(tmp_path / "log")
    head, target = _committer(d)
    versions = []
    lock = threading.Lock()
    barrier = threading.Barrier(4)

    def work(i):
        barrier.wait()
        v = M.commit_next(head, target, lambda b: f"w{i}", "t")
        with lock:
            versions.append(v)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    assert sorted(versions) == [0, 1, 2, 3]
    assert sorted(_payloads(d)) == ["w0", "w1", "w2", "w3"]


def test_commit_conflict_exhaustion_raises(tmp_path):
    """A committer that loses the put-if-absent race ``max_retries``
    times fails with CommitConflictError instead of spinning forever,
    and never overwrites a rival's commit."""
    d = str(tmp_path / "log")
    head, target = _committer(d)
    attempts = []

    def always_lose(base):
        # a rival wins every observed head: pre-take the slot
        attempts.append(base)
        M.put_if_absent(target(base + 1), "rival")
        return "mine"

    with pytest.raises(M.CommitConflictError):
        M.commit_next(head, target, always_lose, "t", max_retries=3)
    assert attempts == [-1, 0, 1]
    assert _payloads(d) == ["rival"] * 3
    assert not any(".tmp." in n for n in os.listdir(d))
