"""Offline reduction of an uncompressed Spark event log to per-group counts.

Every job the benchmark times runs under a job group it set (see
``spans.Tracer``). This module reads the JSON-lines log Spark writes with
``spark.eventLog.compress=false`` and sums stage and task metrics per job
group, so a traced run can say where its seconds went without a rerun.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

TINY_TASK_MS = 5
# stages with less task time than this are all scheduling noise; their
# max/median ratio says nothing about skew
SKEW_MIN_STAGE_MS = 50


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    tiny_tasks: int = 0
    task_ms: float = 0.0
    sched_delay_ms: float = 0.0
    deser_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "stages", "tasks", "failed_tasks", "tiny_tasks",
                  "task_ms", "sched_delay_ms", "deser_ms", "gc_ms",
                  "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_skew = max(self.task_skew, other.task_skew)


def _skew(task_ms: list[float]) -> float:
    if len(task_ms) < 2 or sum(task_ms) < SKEW_MIN_STAGE_MS:
        return 1.0
    return max(task_ms) / max(statistics.median(task_ms), 1.0)


def reduce_events(lines, alias: dict[str, str] | None = None) -> dict[str, GroupStats]:
    """Sum jobs, completed stage attempts and finished tasks per job group.

    ``lines`` is any iterable of event-log JSON lines. ``alias`` renames job
    groups, e.g. a streaming query's run id to the operation that drained
    it. Jobs without a group are ignored."""
    alias = alias or {}
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)

    def group_of(props) -> str | None:
        g = (props or {}).get("spark.jobGroup.id")
        return alias.get(g, g) if g else None

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = group_of(ev.get("Properties"))
            if g:
                out[g].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            g = group_of(ev.get("Properties"))
            if g:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g:
                out[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g:
                _add_task(out[g], ev)
    for st in out.values():
        st.task_skew = max([_skew(v) for v in st.stage_task_ms.values()], default=1.0)
    return dict(out)


def _add_task(st: GroupStats, ev: dict) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        st.failed_tasks += 1
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    st.task_ms += run
    st.deser_ms += deser
    st.gc_ms += m.get("JVM GC Time", 0)
    # the scheduler-delay formula of Spark's stage page
    st.sched_delay_ms += max(0, duration - run - deser - m.get("Result Serialization Time", 0))
    st.tiny_tasks += run < TINY_TASK_MS
    st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    st.stage_task_ms[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))].append(run)

