"""Spans around layer calls, Spark job attribution and self-time arithmetic.

A traced run wraps each layer call the benchmark makes in a span (name,
start, end, parent, trace id). Each span owns a Spark job group, so the
jobs a layer submits can be counted through `statusTracker` while the run
is live and their task metrics recovered from the Spark event log after
it. Spans stay in memory and are dumped when the run ends. Untraced runs
use `NullTracer`, whose spans cost one function call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        yield None


class Tracer:
    """Records nested spans per thread; with a SparkContext, gives each
    span its own job group and collects its job ids on exit."""

    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            sid=next(self._ids),
            name=name,
            trace=trace if trace is not None else (parent.trace if parent else ""),
            parent=parent.sid if parent else None,
            start=0.0,
        )
        group = f"span-{s.sid}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent.sid}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.dur - covered
    return out


def subtree_violations(spans: list[Span], root_name: str, eps: float = 1e-6) -> int:
    """Roots named `root_name` whose descendants' self times (the root's
    own included) sum to more than the root's duration."""
    selfs = self_times(spans)
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    bad = 0
    for root in (s for s in spans if s.name == root_name):
        total, todo = 0.0, [root]
        while todo:
            s = todo.pop()
            total += selfs[s.sid]
            todo.extend(kids.get(s.sid, []))
        if total > root.dur + eps:
            bad += 1
    return bad


def job_metrics_from_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Parse a Spark event log: job group -> summed task metrics
    (task_s, gc_s, shuffle_bytes, failed_tasks)."""
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, float]] = {}
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for st in ev.get("Stage IDs", []):
                            stage_group.setdefault(st, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g = per_group.setdefault(
                        group,
                        {"task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0, "failed_tasks": 0.0},
                    )
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0) + sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    g["failed_tasks"] += 1 if info.get("Failed") else 0
    return per_group


def layer_totals(
    spans: list[Span], group_metrics: dict[str, dict[str, float]] | None = None
) -> dict[str, dict[str, float]]:
    """Per span name: busy_s (summed duration), self_s, calls, spark_jobs,
    the span counters, and (with an event log) the task metrics of the
    jobs each span submitted itself."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        t = out.setdefault(s.name, {"busy_s": 0.0, "self_s": 0.0, "calls": 0.0, "spark_jobs": 0.0})
        t["busy_s"] += s.dur
        t["self_s"] += selfs[s.sid]
        t["calls"] += 1
        t["spark_jobs"] += len(s.jobs)
        for k, v in s.counts.items():
            t[k] = t.get(k, 0.0) + v
        if group_metrics is not None:
            for k, v in group_metrics.get(f"span-{s.sid}", {}).items():
                t[k] = t.get(k, 0.0) + v
    return out
