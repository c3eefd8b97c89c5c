"""Stdlib-only digest of an uncompressed Spark event log (JSON lines).

The traced run enables the event log; this module reads it back and
rolls task metrics up per job, then attributes each job to the span
whose time window holds the job's submission time. No Spark import, no
compression codec: the log must be written with
spark.eventLog.compress=false.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

# SQL metric names Spark gives the bytes crossing the JVM/Python boundary
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

SESSION_FIELDS = (
    "jobs", "stages", "stages_skipped", "tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "input_bytes", "python_bytes_sent",
    "python_bytes_received", "shuffle_write_bytes", "spill_bytes",
    "task_skew", "task_failures",
)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    submitted_stages: set[int] = field(default_factory=set)
    counts: dict[str, float] = field(default_factory=dict)
    task_times: dict[int, list[int]] = field(default_factory=dict)  # stage -> ms


def read_jobs(path: str) -> list[Job]:
    """Jobs of one event log, each with its task metrics summed."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"], list(ev["Stage IDs"]))
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    # a stage belongs to the job that created it; later jobs
                    # that list it again skip it (its shuffle output is reused)
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]].submitted_stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid in stage_job:
                    _add_task(jobs[stage_job[sid]], sid, ev)
    for job in jobs.values():
        c = job.counts
        c["jobs"] = 1
        c["stages"] = len(job.submitted_stages)
        c["stages_skipped"] = sum(
            1 for s in job.stage_ids if stage_job.get(s) != job.job_id
            or s not in job.submitted_stages
        )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _add_task(job: Job, sid: int, ev: dict) -> None:
    c = job.counts

    def add(key: str, value: float) -> None:
        c[key] = c.get(key, 0) + value

    add("tasks", 1)
    add("task_failures", ev.get("Task End Reason", {}).get("Reason") != "Success")
    m = ev.get("Task Metrics") or {}
    add("executor_run_s", m.get("Executor Run Time", 0) / 1e3)
    add("executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
    add("gc_s", m.get("JVM GC Time", 0) / 1e3)
    add("input_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0))
    add("shuffle_write_bytes", (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    add("spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    info = ev.get("Task Info", {})
    for acc in info.get("Accumulables", ()):
        if acc.get("Name") == PY_SENT:
            add("python_bytes_sent", int(acc.get("Update", 0)))
        elif acc.get("Name") == PY_RECEIVED:
            add("python_bytes_received", int(acc.get("Update", 0)))
    if "Launch Time" in info and "Finish Time" in info:
        job.task_times.setdefault(sid, []).append(info["Finish Time"] - info["Launch Time"])


def worst_stage_skew(jobs: list[Job]) -> float:
    """max/median task time of the most skewed stage with >= 2 tasks
    (1.0 when no stage has two tasks)."""
    worst = 1.0
    for job in jobs:
        for times in job.task_times.values():
            if len(times) >= 2:
                med = statistics.median(times)
                worst = max(worst, max(times) / med if med > 0 else 1.0)
    return worst


def rollup(jobs: list[Job]) -> dict[str, float]:
    """Sum of the session counters over jobs, plus the worst stage skew."""
    out = {k: 0.0 for k in SESSION_FIELDS}
    for job in jobs:
        for k, v in job.counts.items():
            out[k] += v
    out["task_skew"] = worst_stage_skew(jobs)
    return out


def attribute(jobs: list[Job], spans: list) -> dict[int, list[Job]]:
    """Span id -> jobs submitted while that span was the innermost open
    one. Spans carry start/end in seconds since the epoch; jobs outside
    every span are returned under key -1."""
    out: dict[int, list[Job]] = {}
    for job in jobs:
        t = job.submit_ms / 1e3
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        out.setdefault(best.span_id if best else -1, []).append(job)
    return out
