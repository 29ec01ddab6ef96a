"""The event-log reader against a small recorded log.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log of three job groups,
trimmed to the fields the reader uses: ``op-a`` (a range aggregation
through the noop sink), ``op-b`` (a ``mapInPandas`` stage and a pandas UDF)
and ``op-c`` (a cached count). Run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_groups_map_to_their_jobs(log):
    assert log.jobs_of("op-a") == [0, 1]
    assert log.jobs_of("op-b") == [2, 3, 4, 5]
    assert log.jobs_of("op-c") == [6, 7, 8]


def test_executor_totals(log):
    s = log.summary(log.jobs_of("op-a"))
    assert (s["jobs"], s["stages"], s["tasks"], s["failed_tasks"]) == (2, 2, 3, 0)
    assert s["stages_skipped"] == 1        # the reused shuffle map stage
    assert s["shuffle_write_bytes"] == s["shuffle_read_bytes"] == 339
    assert s["task_run_s"] == pytest.approx(0.812)
    assert 0 < s["task_cpu_s"] < s["task_run_s"]


def test_python_metrics_are_summed_per_task_with_declared_units(log):
    s = log.summary(log.jobs_of("op-b"))
    # mapInPandas stage + pandas UDF stage, "size" metrics in bytes
    assert s["py_sent_bytes"] == 25120 + 8416
    assert s["py_received_bytes"] == 48448 + 8288
    assert s["py_rows_received"] == 3000 + 1000
    # "timing" metrics in milliseconds, summed over the four tasks
    assert s["py_boot"] == pytest.approx(1.227 + 1.240)
    assert s["py_init"] == pytest.approx(0.462 + 0.420 + 0.773 + 0.821)
    assert s["py_run"] == pytest.approx(2.027 + 2.003 + 0.237 + 0.249)
    assert "py_sent_bytes" not in log.summary(log.jobs_of("op-a"))


def _python_tasks(stage_id):
    with open(LOG) as fh:
        for line in fh:
            e = json.loads(line)
            if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] == stage_id:
                acc = {a["Name"]: int(a["Update"])
                       for a in e["Task Info"]["Accumulables"]}
                yield e["Task Metrics"]["Executor Run Time"], acc


def test_python_timings_read_as_milliseconds():
    """Milliseconds is the reading under which the Python run time fits
    inside the task's own run time."""
    for stage in (5, 9):
        for task_ms, acc in _python_tasks(stage):
            assert acc["time to run Python workers"] <= task_ms


def test_init_time_of_a_reused_worker_includes_its_idle_wait():
    """A reused Python worker stamps its start when it begins waiting for
    the next task, so "time to initialize Python workers" of the second
    stage (no worker start) exceeds the whole task: it is not busy time,
    and summed over an operation it can exceed the operation's wall."""
    for task_ms, acc in _python_tasks(9):
        assert "time to start Python workers" not in acc
        assert acc["time to initialize Python workers"] > task_ms


def test_ns_timing_metrics_scale_to_seconds_whatever_the_event_order():
    """The plan event that declares a Python metric may come after the
    tasks that update it (an adaptive re-plan, a checkpoint execution)."""
    log = eventlog.EventLog()
    log.feed({"Event": "SparkListenerJobStart", "Job ID": 0,
              "Submission Time": 1000, "Stage IDs": [0],
              "Properties": {"spark.jobGroup.id": "g"}})
    log.feed({"Event": "SparkListenerStageSubmitted",
              "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}})
    log.feed({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
              "Stage Attempt ID": 0, "Task End Reason": {"Reason": "Success"},
              "Task Info": {"Accumulables": [{"ID": 7, "Update": "2500000000"}]},
              "Task Metrics": {}})
    log.feed({"Event": "SparkListenerJobEnd", "Job ID": 0,
              "Completion Time": 4000, "Job Result": {"Result": "JobSucceeded"}})
    log.feed({"Event": "SQLAdaptiveExecutionUpdate", "sparkPlanInfo": {
        "nodeName": "ArrowEvalPython", "children": [], "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 7,
             "metricType": "nsTiming"}]}})
    assert log.summary([0])["py_run"] == pytest.approx(2.5)


def test_jobs_without_a_group_match_by_time(log):
    first = min(j["start_ms"] for j in log.jobs.values())
    log2 = eventlog.EventLog()
    with open(LOG) as fh:
        for line in fh:
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                e["Properties"] = {}
            log2.feed(e)
    assert log2.jobs_of("op-a", (first, first)) == [0]


def test_union_of_intervals():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert eventlog.union_s([], 0, 1) == 0
