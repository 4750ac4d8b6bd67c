"""Fold a Spark event log into per-job totals.

Reads the uncompressed, non-rolling JSON-lines log Spark writes with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=
false``. Each job keeps its ``spark.job.description`` property, its
submit/end wall times, the task metrics of every task that ran for it and
the Python-worker SQL metrics of its MapInPandas nodes.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass, field

# Task Metrics fields -> (total name, scale to seconds or bytes)
_TASK_METRICS = {
    "Executor Run Time": ("executor_run_s", 1e-3),  # ms
    "Executor CPU Time": ("executor_cpu_s", 1e-9),  # ns
    "JVM GC Time": ("gc_s", 1e-3),  # ms
    "Memory Bytes Spilled": ("spill_bytes", 1),
    "Disk Bytes Spilled": ("spill_bytes", 1),
}

# SQL metric names of the Python runner (PythonSQLMetrics) -> (total
# name, metric type assumed when the plan events do not name one)
_PYTHON_METRICS = {
    "time to run Python workers": ("python_run_s", "timing"),
    "time to start Python workers": ("python_start_s", "timing"),
    "data sent to Python workers": ("python_bytes_sent", "size"),
    "data returned from Python workers": ("python_bytes_received", "size"),
}

# SQLMetric types -> scale of their raw task update
_METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1, "sum": 1}


@dataclass
class Job:
    job_id: int
    description: str | None
    submit_ms: int
    end_ms: int | None = None
    totals: Counter = field(default_factory=Counter)
    # stage id -> list of task durations (ms) that ran for this job
    task_ms: dict = field(default_factory=dict)
    # stage id -> stage wall time (ms)
    stage_ms: dict = field(default_factory=dict)


def _plan_metric_types(plan: dict, into: dict) -> None:
    for m in plan.get("metrics", []):
        into[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", []):
        _plan_metric_types(child, into)


def read_events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def fold(events) -> dict[int, Job]:
    """Per-job totals from an event stream. A stage's tasks belong to the
    first job that lists the stage (later jobs that list it skip it)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    metric_type: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _plan_metric_types(e["sparkPlanInfo"], metric_type)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                metric_type[m["accumulatorId"]] = m["metricType"]
        elif kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            job = Job(e["Job ID"], desc, e["Submission Time"])
            jobs[job.job_id] = job
            for s in e["Stage IDs"]:
                stage_job.setdefault(s, job.job_id)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is not None and info.get("Submission Time") is not None:
                job.stage_ms[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            _fold_task(job, e, metric_type)
    return jobs


def _fold_task(job: Job, e: dict, metric_type: dict) -> None:
    t = job.totals
    info = e["Task Info"]
    t["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        t["tasks_failed"] += 1
    job.task_ms.setdefault(e["Stage ID"], []).append(
        info["Finish Time"] - info["Launch Time"]
    )
    m = e.get("Task Metrics") or {}
    for key, (name, scale) in _TASK_METRICS.items():
        t[name] += m.get(key, 0) * scale
    read = m.get("Shuffle Read Metrics", {})
    t["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
        "Local Bytes Read", 0
    )
    t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    t["peak_exec_mem_bytes"] = max(
        t["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
    )
    for acc in info.get("Accumulables", []):
        known = _PYTHON_METRICS.get(acc.get("Name"))
        if known is None:
            continue
        name, default = known
        scale = _METRIC_SCALE[metric_type.get(acc["ID"], default)]
        t[name] += float(acc.get("Update", 0)) * scale
