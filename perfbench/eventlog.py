"""Stdlib reader for Spark's JSON-lines event log.

Traced runs start the session with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (the default zstd codec has no stdlib
reader) and ``spark.eventLog.rolling.enabled=false``. After
``spark.stop()`` the benchmark reads the one log file in the log
directory and sums per-task metrics by job group.

Each op runs under job group ``bench:<workload>:<op>``. Jobs submitted
from helper threads (``overlap_fills`` in pinned-thread mode) carry no
group; :func:`summarize` attributes an untagged job to the op whose wall
window contains its submission time, which is exact because the benchmark
keeps one op in flight.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: tuple[int, ...] = ()


@dataclass
class TaskTotals:
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # per job id: (stage id, attempt) pairs that ran at least one task,
    # and the totals of those tasks
    stages_run: dict[int, set[tuple[int, int]]] = field(default_factory=dict)
    job_tasks: dict[int, TaskTotals] = field(default_factory=dict)


def _file(path: Path) -> Path:
    """``path`` itself, or the one log file in the directory ``path``."""
    if path.is_file():
        return path
    (log,) = [p for p in path.iterdir() if p.is_file() and not p.name.startswith(".")]
    return log


def parse(path: str | Path) -> EventLog:
    """Read the event log at ``path`` (a file, or a directory holding one
    log file)."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    with open(_file(Path(path)), encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    submit_ms=ev["Submission Time"],
                    stage_ids=tuple(ev.get("Stage IDs", ())),
                )
                log.jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                _add_task(log, stage_job, ev)
    return log


def _add_task(log: EventLog, stage_job: dict[int, int], ev: dict) -> None:
    # a reused shuffle stage is listed by every job that depends on it;
    # its tasks belong to the job that was running when they ended
    sid = ev["Stage ID"]
    job_id = stage_job.get(sid)
    if job_id is None:
        return
    log.stages_run.setdefault(job_id, set()).add((sid, ev.get("Stage Attempt ID", 0)))
    t = log.job_tasks.setdefault(job_id, TaskTotals())
    t.tasks += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    info = ev.get("Task Info") or {}
    if reason != "Success" or info.get("Failed") or info.get("Killed"):
        t.tasks_failed += 1
    m = ev.get("Task Metrics") or {}
    t.run_ms += m.get("Executor Run Time", 0)
    t.cpu_ms += m.get("Executor CPU Time", 0) / 1e6  # reported in ns
    t.gc_ms += m.get("JVM GC Time", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    t.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    wr = m.get("Shuffle Write Metrics") or {}
    t.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize(log: EventLog, ops: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """Per-op layer numbers.

    ``ops`` lists ``(job group, start, end)`` with wall-clock seconds. The
    result maps each group to jobs/stages/tasks counts, summed task
    run/CPU/GC ms, shuffle and spill MB, and ``driver_gap_ms``: the op's
    wall minus the union of its job spans clipped to the op window."""
    by_group: dict[str, list[Job]] = {g: [] for g, _, _ in ops}
    windows = sorted((s * 1000.0, e * 1000.0, g) for g, s, e in ops)
    for job in log.jobs.values():
        group = job.group if job.group in by_group else None
        if group is None:
            group = next((g for s, e, g in windows if s <= job.submit_ms <= e), None)
        if group is not None:
            by_group[group].append(job)
    out: dict[str, dict[str, float]] = {}
    for g, start, end in ops:
        jobs = by_group[g]
        t = TaskTotals()
        stages: set[tuple[int, int]] = set()
        for job in jobs:
            stages |= log.stages_run.get(job.job_id, set())
            jt = log.job_tasks.get(job.job_id, TaskTotals())
            for k in vars(t):
                setattr(t, k, getattr(t, k) + getattr(jt, k))
        w0, w1 = start * 1000.0, end * 1000.0
        spans = [
            (max(w0, j.submit_ms), min(w1, j.end_ms if j.end_ms is not None else w1))
            for j in jobs
        ]
        busy = _union_ms([(s, e) for s, e in spans if e > s])
        out[g] = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": t.tasks,
            "tasks_failed": t.tasks_failed,
            "task_run_ms": t.run_ms,
            "task_cpu_ms": t.cpu_ms,
            "task_gc_ms": t.gc_ms,
            "shuffle_read_mb": t.shuffle_read_bytes / MB,
            "shuffle_write_mb": t.shuffle_write_bytes / MB,
            "spill_mb": t.spill_bytes / MB,
            "driver_gap_ms": max(0.0, (w1 - w0) - busy),
        }
    return out
