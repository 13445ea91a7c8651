"""Reader for the Spark event log that a traced run writes.

Only job and task events are parsed; every other line is skipped by its
prefix before any JSON decoding (plan-update events run to megabytes).
Jobs are attributed to the innermost span whose time window holds their
submission time. A task belongs to the earliest job that listed its stage,
which is the job that ran it; later jobs list the stage as skipped.
Windows, not job groups, are needed because the scorer submits jobs from
a thread pool that does not inherit the caller's job group.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_KEEP = tuple(f'{{"Event":"{e}"'.encode() for e in (
    "SparkListenerJobStart", "SparkListenerTaskEnd"))

MB = 1e6


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    stage_ids: list[int]


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    run_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    failed: bool


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0

    def add(self, other: "Counters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for raw in lines:
        if isinstance(raw, str):
            raw = raw.encode()
        if not raw.startswith(_KEEP):
            continue
        ev = json.loads(raw)
        if ev["Event"] == "SparkListenerJobStart":
            log.jobs.append(Job(ev["Job ID"], ev["Submission Time"],
                                list(ev.get("Stage IDs", []))))
            continue
        info = ev["Task Info"]
        metrics = ev.get("Task Metrics") or {}
        shuffle = metrics.get("Shuffle Write Metrics") or {}
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        log.tasks.append(Task(
            stage_id=ev["Stage ID"],
            launch_ms=info["Launch Time"],
            run_ms=metrics.get("Executor Run Time", 0),
            shuffle_write_bytes=shuffle.get("Shuffle Bytes Written", 0),
            spill_bytes=(metrics.get("Memory Bytes Spilled", 0)
                         + metrics.get("Disk Bytes Spilled", 0)),
            failed=bool(info.get("Failed")) or reason != "Success"))
    return log


def read_event_log(path: str) -> EventLog:
    with open(path, "rb") as f:
        return parse_lines(f)


def attribute(log: EventLog, innermost) -> dict[int | None, Counters]:
    """Counters per span index. ``innermost(t_seconds)`` maps a time to the
    span index that owns it (``None`` for time outside every span)."""
    out: dict[int | None, Counters] = {}
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    for job in sorted(log.jobs, key=lambda j: j.job_id):
        idx = innermost(job.submitted_ms / 1000.0)
        job_span[job.job_id] = idx
        out.setdefault(idx, Counters()).jobs += 1
        for sid in job.stage_ids:
            stage_job.setdefault(sid, job.job_id)
    for task in log.tasks:
        job_id = stage_job.get(task.stage_id)
        idx = (job_span[job_id] if job_id is not None
               else innermost(task.launch_ms / 1000.0))
        c = out.setdefault(idx, Counters())
        c.tasks += 1
        c.task_run_s += task.run_ms / 1000.0
        c.shuffle_write_mb += task.shuffle_write_bytes / MB
        c.spill_mb += task.spill_bytes / MB
        c.failed_tasks += int(task.failed)
    return out
