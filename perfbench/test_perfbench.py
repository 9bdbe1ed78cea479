"""Self-tests of the benchmark's own arithmetic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import inputs  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402
from check import digest  # noqa: E402
from spans import Span, self_time_by_layer, self_times  # noqa: E402


def _task(stage, run_ms, launch=1000, extra_ms=4, deser=2, gc=1, shuffle=0,
          spill=0, ok=True):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms + deser + extra_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor Deserialize Time": deser,
            "JVM GC Time": gc,
            "Result Serialization Time": 0,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _log(*events):
    return [json.dumps(e) for e in events]


def test_event_log_reducer_sums_known_tasks():
    g = {"spark.jobGroup.id": "op1:0:spark.exec"}
    lines = _log(
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": g},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": g},
        _task(0, 10, shuffle=1000),
        _task(0, 20, shuffle=2000, spill=500),
        _task(0, 90, gc=7),
        _task(0, 2, ok=False),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        # a job outside any group is not counted
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": {}},
        _task(1, 500),
    )
    stats = eventlog.reduce_events(lines)
    assert list(stats) == ["op1:0:spark.exec"]
    st = stats["op1:0:spark.exec"]
    assert (st.jobs, st.stages, st.tasks, st.failed_tasks) == (1, 1, 4, 1)
    assert st.task_ms == 122
    assert st.deser_ms == 8
    assert st.gc_ms == 1 + 1 + 7 + 1
    assert st.sched_delay_ms == 4 * 4  # duration - run - deserialize
    assert st.tiny_tasks == 1  # the 2 ms task
    assert st.shuffle_write_bytes == 3000
    assert st.spill_bytes == 500
    # max / median over the stage's task times: 90 / median(10, 20, 90, 2)
    assert st.task_skew == pytest.approx(90 / 15)


def test_event_log_reducer_aliases_and_skips_small_stages():
    lines = _log(
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        _task(3, 1),
        _task(3, 9),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    )
    stats = eventlog.reduce_events(lines, {"stream-run-id": "drain"})
    assert set(stats) == {"drain"}
    # 10 ms of task time in total is below the skew floor
    assert stats["drain"].task_skew == 1.0


def test_group_stats_add():
    a = eventlog.GroupStats(jobs=1, tasks=3, task_ms=5.0, task_skew=2.0)
    a.add(eventlog.GroupStats(jobs=2, tasks=1, task_ms=1.0, task_skew=4.0))
    assert (a.jobs, a.tasks, a.task_ms, a.task_skew) == (3, 4, 6.0, 4.0)


def _span(i, name, start, end, parent=None):
    return Span(id=i, name=name, op=1, parent=parent, start=start, end=end)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "plans.pipeline.run_forecast_chain", 0.0, 10.0),
        _span(1, "ml.forecast.train", 1.0, 3.0, parent=0),
        _span(2, "ml.forecast.forecast_7day", 2.0, 5.0, parent=0),  # overlaps 1
        _span(3, "ml.forecast.hindcast_eval", 9.0, 12.0, parent=0),  # runs past 0
        _span(4, "spark.exec", 9.5, 11.0, parent=3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[4] == pytest.approx(1.5)
    layers = self_time_by_layer(spans)
    assert layers["plans"] == pytest.approx(5.0)
    assert layers["ml"] == pytest.approx(2.0 + 3.0 + 1.5)
    assert layers["spark"] == pytest.approx(1.5)


def _read_all(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_same_seed_same_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    inputs.generate(str(a), 5, 0.001)
    inputs.generate(str(b), 5, 0.001)
    inputs.generate(str(c), 6, 0.001)
    assert sorted(os.listdir(a)) == [f"{t}.parquet" for t in sorted(inputs.TABLES)]
    assert _read_all(a) == _read_all(b)
    assert _read_all(a)["events.parquet"] != _read_all(c)["events.parquet"]


def test_same_seed_same_batches(tmp_path):
    inputs.generate(str(tmp_path / "t"), 5, 0.001)
    ev = str(tmp_path / "t" / "events.parquet")
    one = inputs.split_batches(ev, str(tmp_path / "b1"), 5, 2, 0.05)
    two = inputs.split_batches(ev, str(tmp_path / "b2"), 5, 2, 0.05)
    other = inputs.split_batches(ev, str(tmp_path / "b3"), 6, 2, 0.05)
    assert [open(p, "rb").read() for p in one] == [open(p, "rb").read() for p in two]
    assert [open(p, "rb").read() for p in one] != [open(p, "rb").read() for p in other]


def test_batches_cover_events_with_redelivery(tmp_path):
    import pyarrow.parquet as pq

    inputs.generate(str(tmp_path / "t"), 5, 0.001)
    ev = str(tmp_path / "t" / "events.parquet")
    paths = inputs.split_batches(ev, str(tmp_path / "b"), 5, 2, 0.05)
    ids = [set(pq.read_table(p).column("event_id").to_pylist()) for p in paths]
    total = pq.read_table(ev).num_rows
    first_only = ids[0] - ids[1]
    assert len(ids[0] | ids[1]) == total
    # batch 1 re-sends about 5% of batch 0
    assert len(ids[0] & ids[1]) == round(0.05 * len(ids[0]))
    assert first_only
    # and brings the newest observations
    ts = [pq.read_table(p).column("ts").to_numpy() for p in paths]
    assert ts[1].max() == pq.read_table(ev).column("ts").to_numpy().max()
    assert ts[0].max() < ts[1].max()


def test_events_ts_is_micros_like_the_test_data(tmp_path):
    # the engine's test data stores events.ts as TIMESTAMP(MICROS), so
    # load_tables reads the generated table through the same plan
    import pyarrow as pa
    import pyarrow.parquet as pq

    inputs.generate(str(tmp_path), 5, 0.001)
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("us")


def test_seed_changes_analyst_order():
    a = workloads.analyst_order(1)
    assert a == workloads.analyst_order(1)
    assert a != workloads.analyst_order(2)
    assert a != workloads.analyst_order(1, 1)
    assert sorted(a) == sorted(workloads.ANALYST_MIX)


def test_op_medians_over_passes():
    Op, Pass = workloads.Op, workloads.Pass
    passes = [
        Pass([Op("a", 3.0, True), Op("b", 1.0, True)]),
        Pass([Op("b", 2.0, True), Op("a", 1.0, True)]),
        Pass([Op("a", 2.0, True)]),
    ]
    assert measure.op_medians(passes) == {"a": 2.0, "b": 1.5}
    assert passes[0].seconds == 4.0


def test_tree_cpu_counts_reaped_children():
    import subprocess

    before = measure.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert measure.tree_cpu_s(os.getpid()) - before >= 0.1


def test_a_check_that_raises_fails():
    def boom():
        raise FileNotFoundError("no marts")

    assert workloads.checked("refresh", lambda: None).ok
    assert not workloads.checked("refresh", lambda: "rows differ").ok
    assert not workloads.checked("refresh", boom).ok


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, None, -0.0)]
    flipped = [(None, 0.0, 2), ("a", 0.5, 1)]
    assert digest(["k", "s", "x"], rows) == digest(["s", "x", "k"], flipped)
    assert digest(["k", "s", "x"], rows) != digest(["k", "s", "x"], rows[:1])
