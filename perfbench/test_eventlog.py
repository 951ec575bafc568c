"""The event-log reader against a tiny recorded log.

``testdata/eventlog_tiny.jsonl`` is a real Spark 4.1 event log of
``testdata/record_eventlog.py``, cut down to the job and task events the
reader uses: two tagged ops (a two-stage shuffle job; a job whose first
task attempt fails and is retried) and one untagged job inside the second
op's window. Run with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import eventlog

LOG = Path(__file__).parent / "testdata" / "eventlog_tiny.jsonl"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def _windows():
    """The op windows ``(job group, start s, end s)`` recorded with the
    log; op1's window holds the untagged job too."""
    return [tuple(w) for w in json.loads(LOG.with_suffix(".ops.json").read_text())]


def test_jobs_are_grouped_by_job_group(log):
    groups = sorted((j.group or "") for j in log.jobs.values())
    assert groups == ["", "bench:t:op0", "bench:t:op1"]
    assert all(j.end_ms is not None and j.end_ms >= j.submit_ms for j in log.jobs.values())


def test_summary_counts_stages_tasks_and_failures(log):
    by_op = eventlog.summarize(log, _windows())
    op0, op1 = by_op["bench:t:op0"], by_op["bench:t:op1"]
    # groupBy over 2 input partitions into 2 shuffle partitions
    assert op0["jobs"] == 1
    assert op0["stages"] == 2
    assert op0["tasks"] == 4
    assert op0["tasks_failed"] == 0
    assert op0["shuffle_write_mb"] > 0
    assert op0["shuffle_read_mb"] == pytest.approx(op0["shuffle_write_mb"], rel=0.5)
    # tagged retry job plus the untagged job attributed by its window
    assert op1["jobs"] == 2
    assert op1["tasks_failed"] == 1
    assert op1["tasks"] == 2 + 1 + 2
    assert op1["shuffle_read_mb"] == 0


def test_times_are_summed_and_gap_is_wall_minus_job_spans(log):
    by_op = eventlog.summarize(log, _windows())
    for (group, start, end), totals in zip(_windows(), by_op.values()):
        assert totals["task_run_ms"] > 0
        assert 0 < totals["task_cpu_ms"]
        wall_ms = (end - start) * 1000.0
        assert 0 <= totals["driver_gap_ms"] < wall_ms


def test_union_of_overlapping_spans():
    assert eventlog._union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog._union_ms([]) == 0
