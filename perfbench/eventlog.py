"""Per-site layer metrics from a Spark event log (no Spark needed).

The traced run records one span per (call, phase) from outside the
program: its wall interval and the job group it set. Spark's event log
(rolling and compression off) gives every job's submission and
completion time, its stages, and every task's metrics. This module
joins the two: a job belongs to the span whose job group it carries,
or, for jobs that run under a group of their own (a streaming query
sets its run id as the group), to the span whose interval holds its
submission time.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PYTHON_RUN_ACCUM = "time to run Python workers"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length covered by the union of [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(
    start: float, end: float, children: list[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - union_length(clipped)


def straggler_ratio(durations: list[float]) -> float:
    """Slowest task over the median task of one stage."""
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


@dataclass
class Span:
    """One traced (call, phase) interval, in epoch milliseconds."""

    call: str  # site name plus call number, e.g. "serve.ivfpq#2"
    phase: str  # "construct", "plan", "execute" or "call"
    group: str
    start_ms: float
    end_ms: float


@dataclass
class StageTasks:
    durations_ms: list[float] = field(default_factory=list)
    cpu_ns: int = 0
    python_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: float
    end_ms: float
    stage_ids: list[int]


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def parse_jobs(events: list[dict]) -> tuple[dict[int, Job], dict[int, StageTasks]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTasks] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                props.get("spark.jobGroup.id"),
                ev["Submission Time"],
                ev["Submission Time"],
                list(ev["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            st = stages.setdefault(ev["Stage ID"], StageTasks())
            st.durations_ms.append(info["Finish Time"] - info["Launch Time"])
            st.cpu_ns += metrics.get("Executor CPU Time", 0)
            st.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0
            )
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_ACCUM:
                    st.python_ms += float(acc["Update"])
    return jobs, stages


def _owner(job: Job, by_group: dict[str, Span], spans: list[Span]) -> Span | None:
    if job.group in by_group:
        return by_group[job.group]
    for sp in spans:
        if sp.start_ms <= job.submit_ms <= sp.end_ms:
            return sp
    return None


def call_metrics(events: list[dict], spans: list[Span]) -> dict[str, dict]:
    """Per traced call: job counts per phase, executor-side totals,
    the worst stage's straggler ratio, and the driver gap (the call's
    wall minus the union of its jobs' intervals)."""
    jobs, stages = parse_jobs(events)
    by_group = {sp.group: sp for sp in spans}
    out: dict[str, dict] = {}
    intervals: dict[str, list[tuple[float, float]]] = {}
    walls: dict[str, tuple[float, float]] = {}
    for sp in spans:
        out.setdefault(
            sp.call,
            {
                "jobs": 0,
                "eager_jobs": 0,
                "executor_cpu_s": 0.0,
                "python_worker_s": 0.0,
                "shuffle_bytes": 0,
                "spill_bytes": 0,
                "task_max_over_median": 1.0,
            },
        )
        lo, hi = walls.get(sp.call, (sp.start_ms, sp.end_ms))
        walls[sp.call] = (min(lo, sp.start_ms), max(hi, sp.end_ms))
    counted: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        # a stage that a later job reuses (listed there, skipped) is
        # counted once, by the first job that ran it
        ran = [s for s in job.stage_ids if s in stages and s not in counted]
        counted.update(ran)
        sp = _owner(job, by_group, spans)
        if sp is None:
            continue
        m = out[sp.call]
        m["jobs"] += 1
        if sp.phase == "construct":
            m["eager_jobs"] += 1
        intervals.setdefault(sp.call, []).append((job.submit_ms, job.end_ms))
        for sid in ran:
            st = stages[sid]
            m["executor_cpu_s"] += st.cpu_ns / 1e9
            m["python_worker_s"] += st.python_ms / 1e3
            m["shuffle_bytes"] += st.shuffle_bytes
            m["spill_bytes"] += st.spill_bytes
            if len(st.durations_ms) >= 2:
                m["task_max_over_median"] = max(
                    m["task_max_over_median"], straggler_ratio(st.durations_ms)
                )
    for call, (lo, hi) in walls.items():
        out[call]["driver_gap_s"] = (
            self_time(lo, hi, intervals.get(call, [])) / 1e3
        )
    return out
