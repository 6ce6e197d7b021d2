"""Spark event-log reader: per-job-group totals of jobs, stages, tasks
and task metrics, including the Python-worker SQL metrics.

Jobs are attributed to the ``spark.jobGroup.id`` property they were
submitted under; stages and tasks to the job that first listed the
stage. Times are seconds, sizes bytes.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

from spans import union_length

# SQL metric names (task accumulables) -> (output key, scale to s / bytes)
PYTHON_METRICS = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.boot_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
}

# Task Metrics fields -> (output key, scale)
TASK_METRICS = {
    "Executor Run Time": ("spark.task_run_s", 1e-3),
    "Executor CPU Time": ("spark.task_cpu_s", 1e-9),
    "JVM GC Time": ("spark.task_gc_s", 1e-3),
    "Executor Deserialize Time": ("spark.task_deser_s", 1e-3),
    "Disk Bytes Spilled": ("spark.spill_bytes", 1),
}

GROUP_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
    *(k for k, _ in TASK_METRICS.values()),
    "spark.scan_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.output_bytes",
    *(k for k, _ in PYTHON_METRICS.values()),
)


def _task_totals(tm: dict, accs: list[dict]) -> dict[str, float]:
    out = {key: tm.get(name, 0) * scale
           for name, (key, scale) in TASK_METRICS.items()}
    out["spark.scan_bytes"] = tm.get("Input Metrics", {}).get("Bytes Read", 0)
    out["spark.output_bytes"] = tm.get("Output Metrics", {}).get("Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics", {})
    out["spark.shuffle_read_bytes"] = (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
    out["spark.shuffle_write_bytes"] = tm.get(
        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    for a in accs:
        hit = PYTHON_METRICS.get(a.get("Name"))
        if hit is not None:
            key, scale = hit
            out[key] = out.get(key, 0) + float(a.get("Update", 0)) * scale
    return out


def read_events(path: Path):
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def group_totals(events) -> dict[str, dict[str, float]]:
    """{job group: {metric: total}} over every group-tagged job."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(GROUP_KEYS, 0.0))
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = e["Job ID"]
            job_group[jid] = group
            job_start[jid] = e["Submission Time"] / 1000
            totals[group]["spark.jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_group:
            jid = e["Job ID"]
            intervals[job_group[jid]].append(
                (job_start[jid], e["Completion Time"] / 1000))
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_group:
                totals[stage_group[sid]]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            t = totals[stage_group[e["Stage ID"]]]
            t["spark.tasks"] += 1
            for k, v in _task_totals(
                e.get("Task Metrics") or {},
                e.get("Task Info", {}).get("Accumulables", []),
            ).items():
                t[k] += v
    for group, ivs in intervals.items():
        totals[group]["spark.job_wall_s"] = union_length(ivs)
    return dict(totals)


def event_log_file(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if p.is_file()
             and not p.name.startswith(".") and not p.name.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return files[0]
