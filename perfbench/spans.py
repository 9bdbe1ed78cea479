"""Spans and counters recorded from outside the program.

A ``Tracer`` times each call the benchmark makes into a layer of the
engine. Spans stay in memory (name, start, end, parent, operation id); a
traced run prints them once, at the end. With tracing on, each span also sets a
Spark job group named after it, so the event log can be reduced per span,
and counts the py4j round trips the call made.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    group: str | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Py4jCounter:
    """Counts commands sent through one py4j gateway client by wrapping the
    client's ``send_command`` on the instance."""

    def __init__(self, gateway_client) -> None:
        self.calls = 0
        self._client = gateway_client
        self._orig = gateway_client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        gateway_client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Records spans. With ``traced`` false, ``span`` only yields, so an
    untraced run pays nothing; the workloads time operations themselves.
    ``overhead_s`` sums the time the tracer spends on its own job-group
    calls inside the spans it records (the event log's cost is not in it)."""

    def __init__(self, traced: bool, spark=None) -> None:
        self.traced = traced
        self.overhead_s = 0.0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self._sc = spark.sparkContext if (traced and spark is not None) else None
        self._py4j = Py4jCounter(self._sc._gateway._gateway_client) if self._sc else None

    def next_op(self) -> None:
        self._op += 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.traced:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name, op=self._op,
            parent=parent.id if parent else None, start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self._sc is not None:
            sp.group = f"op{sp.op}:{sp.id}:{name}"
            self._sc.setJobGroup(sp.group, name)
        calls0 = self._py4j.calls if self._py4j else 0
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield sp
        finally:
            sp.end = t_out = time.perf_counter()
            if self._py4j:
                sp.py4j_calls = self._py4j.calls - calls0
            self._stack.pop()
            if self._sc is not None:
                outer = next((s.group for s in reversed(self._stack) if s.group), None)
                self._sc.setLocalProperty("spark.jobGroup.id", outer)
            self.overhead_s += time.perf_counter() - t_out

    def close(self) -> None:
        if self._py4j:
            self._py4j.close()
            self._py4j = None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover (children may overlap one another)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)
    out = {}
    for sp in spans:
        covered, reach = 0.0, sp.start
        for c in sorted(kids[sp.id], key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[sp.id] = sp.seconds - covered
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        out[sp.layer] += st[sp.id]
    return dict(out)
