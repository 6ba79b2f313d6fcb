"""Self-tests for the benchmark harness (no Spark needed):

    python -m pytest cdpbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from cdpbench import gen, stats
from cdpbench.trace import Span, job_metrics_from_event_log, self_times, subtree_violations


def _digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def test_ingest_inputs_are_deterministic(tmp_path):
    a = gen.ingest_inputs(7, history_per_day=5, n_files=3, events_per_file=200)
    b = gen.ingest_inputs(7, history_per_day=5, n_files=3, events_per_file=200)
    c = gen.ingest_inputs(8, history_per_day=5, n_files=3, events_per_file=200)
    assert _digest(a.history) == _digest(b.history)
    assert [_digest(f) for f in a.files] == [_digest(f) for f in b.files]
    assert _digest(a.history) != _digest(c.history)
    gen.write_lines(str(tmp_path / "a"), a.files[0])
    gen.write_lines(str(tmp_path / "b"), b.files[0])
    assert (tmp_path / "a").read_bytes() == (tmp_path / "b").read_bytes()


def test_analytics_table_is_deterministic(tmp_path):
    gen.write_analytics(str(tmp_path / "a" / "e.parquet"), 7, 5000)
    gen.write_analytics(str(tmp_path / "b" / "e.parquet"), 7, 5000)
    assert (tmp_path / "a" / "e.parquet").read_bytes() == (tmp_path / "b" / "e.parquet").read_bytes()


def test_ingest_mix_and_manifest():
    inp = gen.ingest_inputs(3, history_per_day=20, n_files=4, events_per_file=2000)
    assert {t for _, _, t, _ in inp.history_events} == {"track", "page", "identify", "alias"}
    stream = [e for f in inp.file_events for e in f]
    ids = [m for m, _, _, _ in stream]
    redelivered = len(ids) - len(set(ids))
    assert 0.01 < redelivered / len(ids) < 0.03
    late = sum(1 for _, ts, _, _ in stream if ts < gen.ANCHOR_US - gen.DAY_US)
    assert 0.03 < late / len(stream) < 0.07
    # corrupt lines are not JSON and carry no event
    for lines, evs, bad in zip(inp.files, inp.file_events, inp.malformed_per_file):
        unparsable = 0
        for line in lines:
            try:
                json.loads(line)
            except json.JSONDecodeError:
                unparsable += 1
        assert unparsable == bad and len(lines) == len(evs) + bad
    # the history spans more than the 31-day dedup window
    span_days = (max(t for _, t, _, _ in inp.history_events) - min(t for _, t, _, _ in inp.history_events)) / gen.DAY_US
    assert span_days > 31
    want = gen.expected_tables(inp.history_events + stream)
    single = want[gen.CONN_SINGLE]["events"]
    assert len(single) == len(set(ids) | {m for m, _, _, _ in inp.history_events})
    newest: dict[str, int] = {}
    for m, ts, _, _ in inp.history_events + stream:
        newest[m] = max(ts, newest.get(m, ts))
    assert single == newest
    multi = want[gen.CONN_MULTI]
    assert set(gen.TRACK_NAMES) <= set(multi)
    assert len(multi["tracks"]) == sum(len(multi[n]) for n in gen.TRACK_NAMES)


@pytest.mark.parametrize(
    "n, pct", [(1000, 99.0), (200, 95.0), (100, 90.0), (40, 75.0), (20, 50.0), (19, None), (5, None)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile([5.0], 90) == 5.0


def _span(sid, start, end, parent=None, name="x"):
    return Span(sid=sid, name=name, trace="t", parent=parent, start=start, end=end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, 0, 10, name="root"),
        _span(2, 1, 3, 1),
        _span(3, 2, 5, 1),  # overlaps its sibling: counted once
        _span(4, 8, 12, 1),  # runs past its parent: clipped
        _span(5, 1.5, 2.5, 2),  # grandchild: not the root's direct child
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (4 + 2))
    assert st[2] == pytest.approx(2 - 1)
    assert st[5] == pytest.approx(1)
    assert subtree_violations(spans[:4] + [spans[4]], "root") == 1  # child 4 overruns
    nested = [_span(1, 0, 10, name="root"), _span(2, 1, 3, 1), _span(3, 4, 9, 1), _span(4, 5, 6, 3)]
    assert subtree_violations(nested, "root") == 0
    assert sum(self_times(nested).values()) == pytest.approx(10)


def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": True},
         "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 9000}},
    ]
    os.makedirs(tmp_path / "log")
    (tmp_path / "log" / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = job_metrics_from_event_log(str(tmp_path / "log"))
    assert got == {"span-3": {"task_s": 2.0, "gc_s": 0.1, "shuffle_bytes": 13.0, "failed_tasks": 1.0}}
