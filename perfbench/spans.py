"""Spans recorded by the benchmark around its calls into the engine.

Each workload operation is one *op* span; inside it the benchmark opens
a child span at every call boundary it crosses:

- ``call``: a public engine call. One that runs no Spark stage only
  built a DataFrame (driver-side construction); one that does runs
  jobs itself (scans, index writers, iterative loops);
- ``action``: the Spark action that runs it (collect or noop write).

When tracing is on, every op runs under its own Spark job group (the
op's span id), and after the op the status store's completed stages of
that group are added as ``stage`` spans under the child span whose
interval holds them. Each action also gets a ``plan`` child: from the
action's start to the submission of its first job, the part in which
Spark analyses, optimises and plans the query (and sets up adaptive
execution). Planning is read off the job's submission time, never
forced, so a traced action plans exactly as an untraced one does.
Spans stay in memory; ``dump`` writes them out once, when the run ends.

A layer's self time is its span's duration minus the part covered by
its children; stages running side by side count once (their union).
When tracing is off every context manager here is a bare timer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from probes import Py4jCounter, StageStats, StatusStore


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float
    parent: int | None
    group: str


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Times ops and their child calls; with ``enabled`` also records
    spans, py4j round trips and the Spark work of every op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.totals: dict[str, float] = {}
        self.calls: dict[str, float] = {}
        self.stats = StageStats()
        self.stage_tasks_in: dict[str, int] = {}
        self.py4j_calls = 0
        #: result rows the workload's ops returned under this tracer
        self.result_rows = 0
        self._op: Span | None = None
        if enabled:
            self._py4j = Py4jCounter(spark)
            self._store = StatusStore(spark)

    def close(self) -> None:
        if self.enabled:
            self._py4j.uninstall()

    def _add(self, key: str, v: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + v

    @contextmanager
    def op(self, name: str):
        """One workload operation; yields the op span (or None)."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        span = Span(len(self.spans), name, "op", 0.0, 0.0, None, "")
        span.group = f"perfbench-op-{span.id}"
        self.spans.append(span)
        sc.setJobGroup(span.group, name)
        calls0 = self._py4j.calls
        self._op = span
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            self._op = None
            self.py4j_calls += self._py4j.calls - calls0
            sc.setJobGroup("perfbench-idle", "between ops")
            self._settle(span)

    @contextmanager
    def span(self, name: str, kind: str):
        """A child span of the current op, of kind ``call`` or ``action``.
        Untraced, only the call's wall time is kept."""
        t0 = time.perf_counter()
        start = time.time()
        try:
            yield
        finally:
            self.calls[name] = self.calls.get(name, 0.0) + (
                time.perf_counter() - t0
            )
            if self._op is not None:
                self.spans.append(
                    Span(len(self.spans), name, kind, start, time.time(),
                         self._op.id, self._op.group)
                )

    def _settle(self, op: Span) -> None:
        """Attach the op's completed stages to its child spans and
        charge every span's self time to its layer bucket."""
        st = self._store.group(op.group)
        self.stats.add(st)
        children = [s for s in self.spans[op.id + 1:] if s.parent == op.id]
        for s0, s1, tasks in st.intervals:
            # clip to the op window: JVM stamps are whole milliseconds
            s0 = max(s0, op.start)
            s1 = max(s0, min(s1, op.end))
            mid = (s0 + s1) / 2
            host = next(
                (c for c in children if c.start <= mid <= c.end), op
            )
            self.spans.append(
                Span(len(self.spans), "stage", "stage", s0, s1, host.id, op.group)
            )
            self.stage_tasks_in[host.name] = (
                self.stage_tasks_in.get(host.name, 0) + tasks
            )
        stage_spans = [s for s in self.spans[op.id + 1:] if s.kind == "stage"]
        covered = []
        for c in children:
            inner = [
                (max(s.start, c.start), min(s.end, c.end))
                for s in stage_spans
                if s.parent == c.id and s.end > s.start
            ]
            active = _union(inner)
            self._add("spark.stage_active", active)
            # a call is charged to driver.build when it ran no stage (it
            # only constructed a DataFrame), else to driver.eager_self;
            # an action to spark.plan up to its first job and to
            # spark.sched_wait after it, outside its stages
            if c.kind == "action":
                planned = self._plan_span(c, st.job_starts)
                self._add("spark.plan", planned)
                self._add("spark.sched_wait", (c.end - c.start) - planned - active)
            else:
                bucket = "driver.eager_self" if inner else "driver.build"
                self._add(bucket, (c.end - c.start) - active)
            covered.append((c.start, c.end))
        direct = [
            (s.start, s.end) for s in stage_spans if s.parent == op.id
        ]
        self._add("spark.stage_active", _union(direct))
        wall = op.end - op.start
        self._add("op.wall", wall)
        self._add("bench.self", wall - _union(covered + direct))

    def _plan_span(self, action: Span, job_starts: list[float]) -> float:
        """Add the ``plan`` child of ``action``: up to the submission of
        its first job (the whole action if it ran none). JVM stamps are
        whole milliseconds, so the end is clipped to the action."""
        inside = [
            t for t in job_starts if action.start - 1e-3 <= t <= action.end
        ]
        end = min(max(min(inside, default=action.end), action.start), action.end)
        self.spans.append(Span(
            len(self.spans), f"{action.name}:plan", "plan", action.start, end,
            action.id, action.group,
        ))
        return end - action.start

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
