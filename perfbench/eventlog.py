"""Parse Spark's uncompressed JSON event log into per-op job statistics.

A traced run writes the log with ``spark.eventLog.compress=false`` and
runs each op under ``setJobGroup("<workload>#<pass>#<op>")``.  Ops run
one at a time, so a job belongs to the op whose wall-clock window holds
its submission time; that also covers jobs from threads that do not
carry the group (the medallion gold tier's worker threads).  The group
decides only for a job outside every window, which can happen when the
epoch-millisecond clocks of driver and benchmark round apart.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    completed: bool = False


@dataclass
class TaskTotals:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0


@dataclass
class OpStats:
    """Spark-side totals of one op (one entry of ``summarize``)."""

    jobs: int = 0
    stages: int = 0
    one_task_stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    job_busy_s: float = 0.0
    driver_gap_s: float = 0.0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    task_totals: dict[int, TaskTotals]


def parse(lines) -> EventLog:
    """Read event-log lines; unknown events are skipped."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    totals: dict[int, TaskTotals] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            stage.tasks = info["Number of Tasks"]
            stage.completed = True
        elif kind == "SparkListenerTaskEnd":
            t = totals.setdefault(ev["Stage ID"], TaskTotals())
            m = ev.get("Task Metrics") or {}
            t.tasks += 1
            t.run_ms += m.get("Executor Run Time", 0)
            t.cpu_ns += m.get("Executor CPU Time", 0)
            t.gc_ms += m.get("JVM GC Time", 0)
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
            t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return EventLog(jobs, stages, totals)


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def assign(log: EventLog, windows: dict[str, tuple[int, int]]) -> dict[str, list[Job]]:
    """Jobs per op label: the op window holding the job's submission
    time, else the op its job group names."""
    out: dict[str, list[Job]] = {label: [] for label in windows}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        label = next(
            (k for k, (lo, hi) in windows.items() if lo <= job.submit_ms <= hi),
            job.group if job.group in windows else None,
        )
        if label is not None:
            out[label].append(job)
    return out


def summarize(
    log: EventLog, windows: dict[str, tuple[int, int]]
) -> dict[str, OpStats]:
    """Per-op Spark totals.  ``windows`` maps an op label to its wall
    interval in epoch milliseconds.  A stage shared by several jobs is
    counted once, for the first job that lists it."""
    seen_stages: set[int] = set()
    result: dict[str, OpStats] = {}
    for label, jobs in assign(log, windows).items():
        s = OpStats(jobs=len(jobs))
        intervals = []
        for job in jobs:
            end = job.end_ms if job.end_ms is not None else job.submit_ms
            intervals.append((job.submit_ms, end))
            for sid in job.stage_ids:
                stage = log.stages.get(sid)
                if sid in seen_stages or stage is None or not stage.completed:
                    continue
                seen_stages.add(sid)
                s.stages += 1
                s.one_task_stages += stage.tasks == 1
                t = log.task_totals.get(sid, TaskTotals())
                s.tasks += t.tasks
                s.executor_run_s += t.run_ms / 1e3
                s.executor_cpu_s += t.cpu_ns / 1e9
                s.gc_s += t.gc_ms / 1e3
                s.shuffle_write_mb += t.shuffle_write_bytes / 1e6
                s.spill_mb += t.spill_bytes / 1e6
                s.input_mb += t.input_bytes / 1e6
        lo, hi = windows[label]
        busy = _covered_ms(intervals, lo, hi)
        s.job_busy_s = busy / 1e3
        s.driver_gap_s = (hi - lo - busy) / 1e3
        result[label] = s
    return result


def jobs_within(log: EventLog, spans: list[tuple[float, float]]) -> int:
    """Jobs submitted inside any of ``spans`` (epoch seconds)."""
    return sum(
        any(a * 1e3 <= job.submit_ms <= b * 1e3 for a, b in spans)
        for job in log.jobs.values()
    )
