"""Spark event-log reader: job intervals, task metrics and AQE plan-update
sizes inside given wall-clock windows.

A window is an (epoch-ms start, epoch-ms end) pair around one measured
pass. Jobs and tasks belong to the window they were launched in; a plan
update belongs to the window in which its SQL execution started. Every
metric is averaged over the windows, so it reads per pass.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

_PLAN_UPDATE = "SparkListenerSQLAdaptiveExecutionUpdate"
_EXEC_ID = re.compile(r'"executionId":(\d+)')

METRICS = (
    "spark.no_job_s",
    "spark.plan_update_bytes",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.gc_s",
    "spark.spill_bytes",
    "spark.shuffle_write_bytes",
    "spark.tasks",
    "spark.failed_tasks",
)


def latest_log(directory: Path) -> Path:
    logs = [p for p in directory.iterdir() if p.is_file()]
    if not logs:
        raise FileNotFoundError(f"no Spark event log in {directory}")
    return max(logs, key=lambda p: p.stat().st_mtime)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def summarize(path: Path, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Per-pass means of the METRICS over `windows`."""
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    exec_start: dict[int, float] = {}
    plan_bytes: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:160]
            if _PLAN_UPDATE in head:
                m = _EXEC_ID.search(line, 0, 400)
                if m:
                    eid = int(m.group(1))
                    plan_bytes[eid] = plan_bytes.get(eid, 0) + len(line.encode("utf-8"))
                continue
            if "SparkListenerJobStart" in head:
                ev = json.loads(line)
                job_start[ev["Job ID"]] = ev["Submission Time"]
            elif "SparkListenerJobEnd" in head:
                ev = json.loads(line)
                job_end[ev["Job ID"]] = ev["Completion Time"]
            elif "SparkListenerTaskEnd" in head:
                ev = json.loads(line)
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append(
                    {
                        "launch": info["Launch Time"],
                        "failed": info.get("Failed", False)
                        or ev["Task End Reason"].get("Reason") != "Success",
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0),
                        "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                    }
                )
            elif "SparkListenerSQLExecutionStart" in head:
                ev = json.loads(line)
                exec_start[ev["executionId"]] = ev["time"]

    out = dict.fromkeys(METRICS, 0.0)
    for t0, t1 in windows:
        inside = lambda t: t0 <= t <= t1  # noqa: E731
        jobs = [
            (max(s, t0), min(job_end.get(j, t1), t1))
            for j, s in job_start.items()
            if inside(s)
        ]
        out["spark.no_job_s"] += ((t1 - t0) - _union_ms(jobs)) / 1000
        out["spark.plan_update_bytes"] += sum(
            b for eid, b in plan_bytes.items() if inside(exec_start.get(eid, -1))
        )
        for t in tasks:
            if not inside(t["launch"]):
                continue
            out["spark.tasks"] += 1
            out["spark.failed_tasks"] += t["failed"]
            out["spark.task_run_s"] += t["run_ms"] / 1000
            out["spark.task_cpu_s"] += t["cpu_ns"] / 1e9
            out["spark.gc_s"] += t["gc_ms"] / 1000
            out["spark.spill_bytes"] += t["spill"]
            out["spark.shuffle_write_bytes"] += t["shuffle_write"]
    n = max(1, len(windows))
    return {k: v / n for k, v in out.items()}
