"""Event-log parser on a small recorded log, plus span arithmetic.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log (local[2]) of
two job groups, trimmed to the events and fields the parser reads:
``op1`` ran ``range(0, 1000, 1, 4).groupBy(id % 3).count().collect()``
(a shuffle: 2 stages, 4 + 1 tasks after AQE coalescing), ``op2`` ran
``range(0, 10, 1, 2).collect()`` (1 stage, 2 tasks)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.trace import Span, covered_seconds, outermost_seconds, parse_event_log, self_seconds  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def _groups():
    with open(LOG) as f:
        return parse_event_log(f)


def test_jobs_stages_tasks_are_attributed_by_job_group():
    g = _groups()
    assert g["op1"].jobs >= 1 and g["op2"].jobs == 1
    assert g["op1"].stages == 2 and g["op2"].stages == 1
    assert g["op1"].tasks == 5 and g["op2"].tasks == 2
    assert g["op1"].failed_tasks == g["op2"].failed_tasks == 0


def test_shuffle_and_executor_totals():
    g = _groups()
    assert g["op1"].shuffle_write_bytes > 0
    assert g["op1"].shuffle_read_bytes == g["op1"].shuffle_write_bytes
    assert g["op2"].shuffle_read_bytes == g["op2"].shuffle_write_bytes == 0
    for s in g.values():
        assert s.run_s >= 0 and s.cpu_s >= 0 and s.scheduler_delay_s >= 0
        assert 0 <= s.empty_tasks <= s.tasks
        assert all(b >= a for a, b in s.stage_intervals)


def test_empty_and_failed_tasks_are_counted():
    with open(LOG) as f:
        lines = f.readlines()
    extra = (
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {"Launch Time": 0, '
        '"Finish Time": 5, "Failed": true}, "Task Metrics": {"Executor Run Time": 2}}'
    )
    g = parse_event_log(lines + [extra])
    assert g["op2"].tasks == 3 and g["op2"].empty_tasks == 1 and g["op2"].failed_tasks == 1


def test_covered_seconds_unions_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert covered_seconds(iv, 0.0, 10.0) == 4.0
    assert covered_seconds(iv, 1.5, 5.5) == 2.0
    assert covered_seconds([], 0.0, 1.0) == 0.0


def test_self_time_and_outermost_nesting():
    spans = [
        Span("cypher.run", 0.0, 10.0, None, "a"),
        Span("cypher.run", 1.0, 4.0, 0, "a"),  # nested call counts once
        Span("graph.store.load", 4.0, 6.0, 0, "a"),
        Span("cypher.run", 20.0, 21.0, None, "b"),
    ]
    assert outermost_seconds(spans, "cypher.run") == {"a": 10.0, "b": 1.0}
    assert self_seconds(spans) == [5.0, 3.0, 2.0, 1.0]
