"""Manifest-commit table (rename-free object-store transactionality):
snapshot isolation, optimistic concurrent appends, crash-orphan vacuum."""

from __future__ import annotations

import os

import pytest

from nyc_taxi_data_warehouse_spark.sources import manifest as M


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_overwrite_append_read_roundtrip(spark, tmp_path):
    t = M.ManifestTable(str(tmp_path / "t"))
    assert t.latest_version() == -1
    with pytest.raises(FileNotFoundError):
        t.read(spark)

    assert t.overwrite(spark.range(5)) == 0
    assert _ids(t.read(spark)) == list(range(5))

    assert t.append(spark.range(5, 8)) == 1
    assert _ids(t.read(spark)) == list(range(8))

    # overwrite drops all prior files from the NEW snapshot...
    assert t.overwrite(spark.range(3)) == 2
    assert _ids(t.read(spark)) == list(range(3))
    # ...while the old snapshot stays readable (time travel, slow readers)
    assert _ids(t.read(spark, version=1)) == list(range(8))


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two writers race a commit at the same version: put-if-absent lets
    exactly one win v_N; the loser retries against the winner's manifest,
    so BOTH batches are in the final table — no lost update."""
    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(10))

    # interleave the race deterministically: both writers stage their data
    # files first, then commit in sequence against the same observed head
    files_a = M.write_batch(spark.range(10, 15), t.data_dir)
    files_b = M.write_batch(spark.range(15, 20), t.data_dir)
    base = t.files()
    # writer A commits v1 first
    assert t._commit(lambda b: b + files_a, "append") == 1
    # writer B's first attempt at v1 must LOSE (key exists) and its retry
    # must rebuild on A's manifest — simulate via the public append path
    assert not M.put_if_absent(
        os.path.join(t.commits_dir, "v1.json"), "{}"
    )
    assert t._commit(lambda b: b + files_b, "append") == 2
    final = t.files()
    assert set(base) < set(final)
    assert set(files_a) < set(final) and set(files_b) < set(final)
    assert _ids(t.read(spark)) == list(range(20))


def test_threaded_appends_all_land(spark, tmp_path):
    """N threads appending concurrently: every batch lands exactly once
    (optimistic retry composes appends), versions are distinct."""
    import threading

    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(0))
    versions = []
    lock = threading.Lock()

    def work(i):
        v = t.append(spark.range(i * 10, i * 10 + 10))
        with lock:
            versions.append(v)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert sorted(versions) == [1, 2, 3, 4]
    assert _ids(t.read(spark)) == list(range(40))


def test_commit_conflict_exhaustion_raises(spark, tmp_path):
    """A committer that keeps losing the put-if-absent race fails loudly
    with CommitConflictError instead of spinning forever."""
    t = M.ManifestTable(str(tmp_path / "t"), max_retries=2)
    t.overwrite(spark.range(3))
    files = M.write_batch(spark.range(3, 6), t.data_dir)

    def always_lose(base):
        # simulate a rival winning every observed head: pre-take the slot
        M.put_if_absent(
            os.path.join(t.commits_dir, f"v{t.latest_version() + 1}.json"),
            '{"version": -1, "op": "rival", "files": []}',
        )
        return base + files

    with pytest.raises(M.CommitConflictError):
        t._commit(always_lose, "append")


def test_read_of_vacuumed_version_raises(spark, tmp_path):
    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3))
    t.overwrite(spark.range(5))
    t.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=0)
    assert _ids(t.read(spark)) == list(range(5))


def test_vacuum_retention_protects_inflight_batches(spark, tmp_path):
    """A freshly-staged batch (a live writer between write_batch and
    _commit) survives vacuum under the default retention window, so the
    writer's upcoming commit can't publish dangling files; keep_versions=0
    is rejected (Python's vs[-0:] slice would silently keep everything
    while deleting every manifest)."""
    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(5))
    staged = M.write_batch(spark.range(50, 60), t.data_dir)  # in-flight writer
    assert t.vacuum(keep_versions=1) == []  # default retention: kept
    assert t._commit(lambda base: base + staged, "append") == 1
    assert _ids(t.read(spark)) == list(range(5)) + list(range(50, 60))
    with pytest.raises(ValueError):
        t.vacuum(keep_versions=0)


def test_crashed_writer_orphans_invisible_and_vacuumed(spark, tmp_path):
    """A writer that staged data but died before committing leaves orphan
    files: readers never see them, vacuum reclaims them — and vacuum keeps
    every file the retained manifests still reference."""
    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(5))
    M.write_batch(spark.range(100, 200), t.data_dir)  # crash: staged, never committed
    assert _ids(t.read(spark)) == list(range(5))  # reader snapshot clean

    live_before = set(t.files())
    deleted = t.vacuum(keep_versions=1, retention_seconds=0)
    assert deleted  # the orphan batch went away
    assert not live_before & set(deleted)  # live snapshot untouched
    assert _ids(t.read(spark)) == list(range(5))

    # old snapshots beyond the retention window are reclaimed too
    t.overwrite(spark.range(3))
    t.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        t._manifest(0)
    assert _ids(t.read(spark)) == list(range(3))


def test_commit_retries_when_base_manifest_vacuumed_under_it(spark, tmp_path):
    """A concurrent vacuum deleting the base manifest between the head
    listing and the base-file read must not crash the committer — it
    re-resolves the head and retries."""
    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3))
    t.overwrite(spark.range(5))

    calls = {"n": 0}
    orig_files = t.files

    def racy_files(version=None):
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate: vacuum deletes the base manifest right after the
            # committer listed it as head
            raise FileNotFoundError("v-file vacuumed between list and read")
        return orig_files(version)

    t.files = racy_files
    new = M.write_batch(spark.range(50, 53), t.data_dir)
    v = t._commit(lambda base: base + new, "append")
    t.files = orig_files
    assert v == 2
    assert _ids(t.read(spark)) == list(range(5)) + list(range(50, 53))


def test_head_read_retries_past_vacuumed_manifest(spark, tmp_path):
    """A reader that resolved the head just before vacuum deleted it
    re-resolves against the new head instead of crashing."""
    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3))
    t.overwrite(spark.range(7))

    calls = {"n": 0}
    orig = t._manifest

    def racy_manifest(version):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(f"v{version}.json vacuumed under reader")
        return orig(version)

    t._manifest = racy_manifest
    assert _ids(t.read(spark)) == list(range(7))
    assert calls["n"] >= 2  # actually exercised the retry


def test_vacuum_retention_gates_manifest_deletion(spark, tmp_path):
    """Old manifests inside the retention window survive vacuum (a
    committer may still be about to read them); past the window they go."""
    import pytest

    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3))
    t.overwrite(spark.range(5))
    t.vacuum(keep_versions=1)  # default retention: v0 manifest kept
    assert _ids(t.read(spark, version=0)) == list(range(3))  # time travel OK
    t.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        t._manifest(0)
    assert _ids(t.read(spark)) == list(range(5))


def test_vacuum_reclaims_crashed_commit_temp_files(spark, tmp_path):
    """A commit that died between its temp write and the final unlink
    leaves ``v{N}.json.tmp.<hex>`` in ``_commits``. Vacuum removes such a
    file once it is older than the retention window and keeps a younger
    one, which may belong to a commit in flight; the head does not move."""
    import time

    t = M.ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3))
    old = os.path.join(t.commits_dir, "v1.json.tmp.0123abcd")
    fresh = os.path.join(t.commits_dir, "v1.json.tmp.4567cdef")
    for path in (old, fresh):
        with open(path, "w") as f:
            f.write("{}")
    hour_ago = time.time() - 3600
    os.utime(old, (hour_ago, hour_ago))
    head = t.latest_version()
    t.vacuum(retention_seconds=60)
    assert not os.path.exists(old)
    assert os.path.exists(fresh)
    assert t.latest_version() == head
    assert _ids(t.read(spark)) == list(range(3))
