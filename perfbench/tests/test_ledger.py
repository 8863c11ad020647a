"""Tests for the event-log ledger.

    python3 -m pytest perfbench/tests -q

``data/eventlog_small.jsonl`` was recorded from a local Spark run by
``record_eventlog.py``: request ``1`` is a tagged global count (two
map tasks, one final task), ``2`` a tagged group-by aggregation (two
map tasks, two reduce tasks), ``3`` an untagged RDD job without a
shuffle inside its request's window.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from ledger import TAG_PROP, EventLog, union_length  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def recorded():
    log = EventLog.from_file(os.path.join(DATA, "eventlog_small.jsonl"))
    with open(os.path.join(DATA, "eventlog_small.windows.json")) as f:
        windows = {k: tuple(v) for k, v in json.load(f).items()}
    return log, windows, log.attribute(windows)


def test_tagged_jobs_count_every_stage(recorded):
    _, _, costs = recorded
    assert (costs["1"].jobs, costs["1"].tasks) == (1, 3)
    assert (costs["2"].jobs, costs["2"].tasks) == (1, 4)
    # partial counts per map task, against seven partial groups each
    assert 0 < costs["1"].shuffle_write_bytes < costs["2"].shuffle_write_bytes


def test_untagged_job_falls_to_its_window(recorded):
    log, _, costs = recorded
    assert any(j.tag is None for j in log.jobs.values())
    c = costs["3"]
    assert (c.jobs, c.tasks, c.shuffle_write_bytes) == (1, 2, 0)


def test_times_add_up_to_the_request_wall(recorded):
    _, windows, costs = recorded
    for tag, c in costs.items():
        wall = windows[tag][1] - windows[tag][0]
        assert 0 < c.job_busy_s <= wall
        assert c.driver_s == pytest.approx(wall - c.job_busy_s)
        assert 0 < c.task_cpu_s <= c.task_run_s + 0.01


def test_every_recorded_job_is_attributed(recorded):
    log, _, costs = recorded
    assert sum(c.jobs for c in costs.values()) == len(log.jobs)


def test_request_without_jobs_costs_nothing(recorded):
    log, _, _ = recorded
    c = log.attribute({"idle": (0.0, 1.0)})["idle"]
    assert (c.jobs, c.tasks, c.job_busy_s, c.driver_s) == (0, 0, 0.0, 1.0)


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_reused_stage_counts_once_for_the_job_that_ran_it():
    lines = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
            "Stage IDs": [0, 1], "Properties": {TAG_PROP: "a"}}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 50_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 20, "Executor CPU Time": 10_000_000}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1300}),
        # job 1 lists stage 0 again but reuses its shuffle output
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1400,
            "Stage IDs": [0, 2], "Properties": {TAG_PROP: "b"}}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 30, "Executor CPU Time": 20_000_000}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1500}),
    ]
    costs = EventLog(lines).attribute({"a": (0.9, 1.35), "b": (1.35, 1.6)})
    a, b = costs["a"], costs["b"]
    assert (a.jobs, a.tasks, a.shuffle_write_bytes) == (1, 2, 10)
    assert a.task_run_s == pytest.approx(0.12)
    assert a.task_cpu_s == pytest.approx(0.06)
    assert (b.jobs, b.tasks, b.shuffle_write_bytes) == (1, 1, 0)
    assert a.job_busy_s == pytest.approx(0.3)
    assert b.driver_s == pytest.approx(0.25 - 0.1)


@pytest.mark.parametrize(
    "spans, lo, hi, want",
    [
        ([], 0, 10, 0.0),
        ([(1, 2), (3, 4)], 0, 10, 2.0),
        ([(1, 3), (2, 4)], 0, 10, 3.0),
        ([(1, 5), (2, 3)], 0, 10, 4.0),
        ([(0, 10)], 2, 4, 2.0),
        ([(5, 6)], 0, 4, 0.0),
    ],
)
def test_union_length(spans, lo, hi, want):
    assert union_length(spans, lo, hi) == pytest.approx(want)
