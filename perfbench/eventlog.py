"""Spark event-log reader: jobs, stages and tasks, attributed to spans.

Reads the uncompressed JSON-lines log Spark writes with
`spark.eventLog.enabled=true` (a single file, or the
`eventlog_v2_<appId>/events_<n>_<appId>` rolling directory), and turns it
into per-span `spark.*` metrics:

- a job belongs to the span whose job group it carries
  (`spark.jobGroup.id`); a job with no known group, such as one a
  streaming query starts on its own thread, belongs to the innermost span
  that was open when it was submitted;
- a stage belongs to the first job that lists it; only submitted stages
  count, skipped ones never ran;
- task figures come from `SparkListenerTaskEnd`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Task:
    launch: float
    finish: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    deser_s: float
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    input_bytes: int


@dataclass
class Stage:
    id: int
    submit: float
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float
    stage_ids: list[int]
    stages: list[Stage] = field(default_factory=list)


def _events(path: str):
    if os.path.isdir(path):
        files = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    return Task(
        launch=info["Launch Time"] / 1000,
        finish=info["Finish Time"] / 1000,
        failed=bool(info.get("Failed")) or bool(info.get("Killed")),
        run_s=m.get("Executor Run Time", 0) / 1000,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000,
        deser_s=m.get("Executor Deserialize Time", 0) / 1000,
        shuffle_write_bytes=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
    )


def load(path: str) -> list[Job]:
    """All jobs in the log, in id order, each with its submitted stages
    and their finished tasks."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit=ev["Submission Time"] / 1000,
                end=ev["Submission Time"] / 1000,
                stage_ids=list(ev["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], info["Submission Time"] / 1000))
        elif kind == "SparkListenerTaskEnd":
            stage = stages.get(ev["Stage ID"])
            if stage is not None and "Launch Time" in ev.get("Task Info", {}):
                stage.tasks.append(_task(ev))
    owned: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j.id):
        for sid in job.stage_ids:
            if sid in stages and sid not in owned:
                owned.add(sid)
                job.stages.append(stages[sid])
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute(jobs: list[Job], spans) -> dict[int, list[Job]]:
    """Map span id -> the jobs it launched (see module docstring).
    spans need .id, .group, .start, .end and .parent; jobs outside every
    span are left out."""
    by_group = {sp.group: sp for sp in spans}
    depth: dict[int, int] = {}
    for sp in spans:  # parents precede children
        depth[sp.id] = depth[sp.parent] + 1 if sp.parent in depth else 0
    out: dict[int, list[Job]] = {}
    for job in jobs:
        sp = by_group.get(job.group)
        if sp is None:
            open_spans = [s for s in spans if s.start <= job.submit <= s.end]
            if not open_spans:
                continue
            sp = max(open_spans, key=lambda s: depth[s.id])
        out.setdefault(sp.id, []).append(job)
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_metrics(jobs: list[Job], windows: list[tuple[float, float]], slots: int) -> dict[str, float]:
    """spark.* layer metrics for a set of jobs that ran inside the given
    wall-clock windows (the op spans of one pass) on `slots` task slots.

    task_wait_s: time tasks waited for a slot after their stage was
    submitted. driver_only_s: window time with no job running (Python,
    Py4J and Catalyst work on the driver). slot_busy_share: task time
    over the slot time available while jobs ran."""
    tasks = [(st, t) for j in jobs for st in j.stages for t in st.tasks]
    busy = []
    for lo, hi in windows:
        busy += [(max(j.submit, lo), min(j.end, hi)) for j in jobs if j.end > lo and j.submit < hi]
    job_time = _union_len(busy)
    window_time = sum(hi - lo for lo, hi in windows)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(len(j.stages) for j in jobs),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t.failed for _, t in tasks),
        "spark.task_run_s": sum(t.run_s for _, t in tasks),
        "spark.task_cpu_s": sum(t.cpu_s for _, t in tasks),
        "spark.task_gc_s": sum(t.gc_s for _, t in tasks),
        "spark.task_deser_s": sum(t.deser_s for _, t in tasks),
        "spark.task_wait_s": sum(max(0.0, t.launch - st.submit) for st, t in tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for _, t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read_bytes for _, t in tasks),
        "spark.spill_bytes": sum(t.spill_bytes for _, t in tasks),
        "spark.input_bytes": sum(t.input_bytes for _, t in tasks),
        "spark.driver_only_s": max(0.0, window_time - job_time),
        "spark.slot_busy_share": (
            sum(t.finish - t.launch for _, t in tasks) / (job_time * slots) if job_time > 0 else 0.0
        ),
    }
