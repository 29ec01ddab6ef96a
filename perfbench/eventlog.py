"""Stdlib reader for an uncompressed, non-rolling Spark event log.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is on,
``spark.eventLog.compress`` is off and rolling is off. This module maps
each job group (``SparkContext.setJobGroup``) to its jobs, stages, tasks,
task metrics and the SQL metrics of the Python/Arrow plan nodes.

Units follow the metric type that ``SparkListenerSQLExecutionStart`` (and
each adaptive re-plan) declares for an accumulator: ``size`` is bytes,
``timing`` is milliseconds, ``nsTiming`` is nanoseconds. Values are summed
from the per-task ``Update`` fields. The per-stage ``Value`` fields are not
used: an accumulator's ``Value`` is its running total, so a plan node that
runs in several stages or jobs would be counted once per stage.
"""

from __future__ import annotations

import json
from collections import Counter

#: SQL metric name on a Python plan node -> (result key, metric unit)
PYTHON_METRICS = {
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "received_bytes",
    "number of output rows": "rows_received",
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "time to run Python workers": "run",
}
#: seconds per unit of a timing metric type
TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def is_python_node(node_name: str) -> bool:
    """Plan nodes that ship rows to Python workers (pandas/Arrow UDFs,
    ``mapInPandas``, grouped/cogrouped applies, Python UDTFs)."""
    return any(s in node_name for s in ("Python", "Pandas", "InArrow"))


class EventLog:
    """Jobs, stages, tasks and Python metrics of one application."""

    def __init__(self) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[tuple[int, int], int] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.python_acc: dict[int, tuple[str, str]] = {}  # id -> (key, type)

    # ------------------------------------------------------------ parse
    def feed(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start_ms": e["Submission Time"], "end_ms": None,
                "stage_ids": list(e.get("Stage IDs", []))}
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            job = self._owner(info["Stage ID"])
            if job is not None:
                self.stage_job[key] = job
            self._stage(key)
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif "sparkPlanInfo" in e:  # SQL execution start / adaptive update
            self._plan(e["sparkPlanInfo"])

    def _stage(self, key: tuple[int, int]) -> dict:
        return self.stages.setdefault(
            key, {"tasks": 0, "failed_tasks": 0, "m": Counter(),
                  "acc": Counter()})

    def _owner(self, stage_id: int) -> int | None:
        """The latest-started running job that lists the stage."""
        owner = None
        for jid, job in self.jobs.items():
            if stage_id in job["stage_ids"] and job["end_ms"] is None:
                if owner is None or jid > owner:
                    owner = jid
        return owner

    def _plan(self, node: dict) -> None:
        if is_python_node(node.get("nodeName", "")):
            for m in node.get("metrics", []):
                key = PYTHON_METRICS.get(m.get("name"))
                if key is not None:
                    self.python_acc[m["accumulatorId"]] = (key, m["metricType"])
        for child in node.get("children", []):
            self._plan(child)

    def _task_end(self, e: dict) -> None:
        st = self._stage((e["Stage ID"], e.get("Stage Attempt ID", 0)))
        info = e.get("Task Info") or {}
        tm = e.get("Task Metrics") or {}
        m = st["m"]
        st["tasks"] += 1
        if info.get("Failed") or \
                (e.get("Task End Reason") or {}).get("Reason") != "Success":
            st["failed_tasks"] += 1
        run_ms = tm.get("Executor Run Time", 0)
        m["task_run_s"] += run_ms / 1e3
        m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        if info.get("Finish Time") and info.get("Launch Time"):
            busy = (info["Finish Time"] - info["Launch Time"]) - run_ms \
                - tm.get("Executor Deserialize Time", 0) \
                - tm.get("Result Serialization Time", 0) \
                - info.get("Getting Result Time", 0)
            m["sched_delay_s"] += max(busy, 0) / 1e3
        m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + \
            sr.get("Local Bytes Read", 0)
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}) \
            .get("Shuffle Bytes Written", 0)
        m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        # SQL metric updates by accumulator id: the plan event that names
        # an accumulator can come after the tasks that update it
        for acc in info.get("Accumulables", []):
            try:
                st["acc"][acc["ID"]] += float(acc.get("Update", 0))
            except (KeyError, TypeError, ValueError):
                continue

    # ------------------------------------------------------------ query
    def jobs_of(self, group: str | None = None,
                window_ms: tuple[float, float] | None = None) -> list[int]:
        """Jobs of a job group; jobs without a group (for example those a
        program starts from its own worker threads, which do not inherit
        the group) are matched by submission time within ``window_ms``."""
        out = []
        for jid, job in self.jobs.items():
            if group is not None and job["group"] == group:
                out.append(jid)
            elif job["group"] is None and window_ms is not None and \
                    window_ms[0] <= job["start_ms"] <= window_ms[1]:
                out.append(jid)
        return sorted(out)

    def summary(self, job_ids: list[int]) -> dict:
        """Executor-side totals over ``job_ids``."""
        jobs = set(job_ids)
        out = Counter()
        out["jobs"] = len(jobs)
        for key, st in self.stages.items():
            if self.stage_job.get(key) not in jobs:
                continue
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            out["failed_tasks"] += st["failed_tasks"]
            out.update(st["m"])
            for acc_id, value in st["acc"].items():
                hit = self.python_acc.get(acc_id)
                if hit is not None:
                    name, mtype = hit
                    out["py_" + name] += value * TIME_SCALE.get(mtype, 1.0)
        listed = sum(len(self.jobs[j]["stage_ids"]) for j in jobs)
        submitted = {k[0] for k, j in self.stage_job.items() if j in jobs}
        out["stages_skipped"] = max(listed - len(submitted), 0)
        out["job_s"] = sum(
            (self.jobs[j]["end_ms"] - self.jobs[j]["start_ms"]) / 1e3
            for j in jobs if self.jobs[j]["end_ms"] is not None)
        return dict(out)

    def intervals(self, job_ids: list[int]) -> list[tuple[float, float]]:
        """(start, end) of each finished job, in epoch seconds."""
        return [(self.jobs[j]["start_ms"] / 1e3, self.jobs[j]["end_ms"] / 1e3)
                for j in job_ids if self.jobs[j]["end_ms"] is not None]


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                log.feed(json.loads(line))
    return log


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
