"""The event-log fold over a small recorded log and over hand-built events.

    python3 -m pytest wcsbench/tests/test_eventlog.py -q

``data/eventlog.json`` and ``data/spans.json`` come from
``record_eventlog.py``; see there for what each span runs.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def folded():
    with open(os.path.join(DATA, "spans.json"), encoding="utf-8") as f:
        spans = [tuple(s) for s in json.load(f)]
    return eventlog.fold(list(eventlog.read_events(os.path.join(DATA, "eventlog.json"))), spans)


def test_every_span_has_jobs_and_tasks(folded):
    assert set(folded) == {"identity_map", "grouped_shuffle", "retried_task", "background"}
    for row in folded.values():
        assert row["jobs"] >= 1 and row["tasks"] >= 1 and row["stages"] >= 1
        assert 0 <= row["driver_gap_s"] <= row["wall_s"]
        # CPU time arrives in ns and run time in ms: both end up in seconds
        assert 0 < row["executor_cpu_s"] <= row["executor_run_s"] + 1e-3 < 2 * row["wall_s"] + 1


def test_identity_map_in_arrow(folded):
    row = folded["identity_map"]
    assert row["tasks"] == 2 and row["failed_tasks"] == 0
    assert row["python_bytes_sent"] > 0 and row["python_bytes_returned"] > 0
    assert 0 < row["python_run_s"] < row["wall_s"] + 1
    assert row["exchange_bytes_written"] == 0


def test_grouped_shuffle(folded):
    row = folded["grouped_shuffle"]
    assert row["stages"] >= 2
    assert row["exchange_bytes_written"] > 0
    # shuffle write time arrives in ns
    assert 0 < row["exchange_write_s"] < row["wall_s"]
    assert row["python_run_s"] == 0


def test_retried_task(folded):
    row = folded["retried_task"]
    assert row["failed_tasks"] == 1
    assert row["tasks"] == 3  # two partitions, one of them twice


def test_background_thread_job_lands_in_enclosing_span(folded):
    # one count() from the span's thread (job group set) and one from a
    # thread without the group, attributed by submission time
    starts = [ev for ev in eventlog.read_events(os.path.join(DATA, "eventlog.json"))
              if ev["Event"] == "SparkListenerJobStart"]
    grouped = [ev for ev in starts
               if ev["Properties"].get("spark.jobGroup.id") == "background"]
    ungrouped = [ev for ev in starts if not ev["Properties"].get("spark.jobGroup.id")]
    assert grouped and ungrouped
    assert folded["background"]["jobs"] == len(grouped) + len(ungrouped)


def _task_end(stage, launch, finish, run_ms, cpu_ns, write_ns, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": False, "Killed": False,
                      "Accumulables": [{"ID": i, "Update": u} for i, u in accums]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                         "JVM GC Time": 5,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 10,
                                                   "Shuffle Write Time": write_ns},
                         "Shuffle Read Metrics": {"Fetch Wait Time": 7},
                         "Input Metrics": {"Bytes Read": 100, "Records Read": 4}},
    }


def test_units_are_normalised_to_seconds():
    plan = {"nodeName": "MapInArrow", "children": [], "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 1, "metricType": "timing"},
        {"name": "time to start Python workers", "accumulatorId": 2, "metricType": "nsTiming"},
        {"name": "data sent to Python workers", "accumulatorId": 3, "metricType": "size"},
    ]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "s"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1000, "Completion Time": 4000}},
        _task_end(0, 1000, 1500, 400, 200_000_000, 50_000_000),
        _task_end(1, 2000, 4000, 2000, 1_500_000_000, 0,
                  accums=[(1, 1500), (2, 300_000_000), (3, 4096)]),
        _task_end(1, 2500, 3000, 500, 100_000_000, 0),
        _task_end(1, 2500, 3500, 1000, 100_000_000, 0),
    ]
    row = eventlog.fold(events, [("s", 1000, 5000)])["s"]
    assert row["wall_s"] == pytest.approx(4.0)
    assert row["jobs"] == 1 and row["stages"] == 2 and row["tasks"] == 4
    assert row["executor_run_s"] == pytest.approx(3.9)
    assert row["executor_cpu_s"] == pytest.approx(1.9)
    assert row["gc_s"] == pytest.approx(0.02)
    assert row["exchange_write_s"] == pytest.approx(0.05)
    assert row["exchange_fetch_wait_s"] == pytest.approx(0.028)
    assert row["python_run_s"] == pytest.approx(1.5)
    assert row["python_boot_s"] == pytest.approx(0.3)
    assert row["python_bytes_sent"] == 4096
    assert row["scan_rows"] == 16 and row["scan_bytes_read"] == 400
    # busy [1000,1500] and [2000,4000] inside a 4 s span
    assert row["driver_gap_s"] == pytest.approx(1.5)
    # longest stage is 1: run times 2000, 500, 1000 -> max / median
    assert row["task_skew"] == pytest.approx(2.0)


def test_job_without_group_outside_every_span_is_dropped():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 9000,
         "Stage IDs": [0], "Properties": {}},
        _task_end(0, 9000, 9100, 100, 1, 0),
    ]
    row = eventlog.fold(events, [("s", 1000, 2000)])["s"]
    assert row["jobs"] == 0 and row["tasks"] == 0 and row["driver_gap_s"] == pytest.approx(1.0)
