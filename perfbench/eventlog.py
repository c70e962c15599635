"""Per-layer numbers from Spark's own event log.

The traced run enables the event log (uncompressed, not rolling) and
stamps each timed call with a job group. After the session stops, the
single log file is read here: jobs map to a call by their
``spark.jobGroup.id`` property, or, for jobs submitted from threads the
program starts itself (which do not inherit the group), by submission
time inside the call's wall-clock window. Tasks map to jobs through their
stage ids.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    start_ms: int
    props: dict
    stage_ids: list[int]
    end_ms: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0


@dataclass
class Call:
    """One timed call: its group name and epoch-millisecond window."""

    group: str
    start_ms: float
    end_ms: float
    jobs: list[Job] = field(default_factory=list)
    #: CPU seconds the JVM and the benchmark process spent in the call
    cpu_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3


def read_jobs(event_log_dir: str) -> list[Job]:
    [path] = [
        p for p in glob.glob(os.path.join(event_log_dir, "*"))
        if os.path.isfile(p)
    ]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(
                    job_id=ev["Job ID"],
                    start_ms=ev["Submission Time"],
                    props=ev.get("Properties") or {},
                    stage_ids=ev["Stage IDs"],
                )
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if job_id is None or not metrics:
                    continue
                job = jobs[job_id]
                job.tasks += 1
                job.run_ms += metrics["Executor Run Time"]
                job.cpu_ns += metrics["Executor CPU Time"]
                job.gc_ms += metrics["JVM GC Time"]
                job.shuffle_bytes += metrics["Shuffle Write Metrics"][
                    "Shuffle Bytes Written"
                ]
                job.spill_bytes += metrics["Disk Bytes Spilled"]
                job.bytes_written += metrics["Output Metrics"]["Bytes Written"]
    return sorted(jobs.values(), key=lambda j: j.job_id)


def assign(jobs: list[Job], calls: list[Call]) -> None:
    """Attach each job to the call that submitted it."""
    for call in calls:
        call.jobs = [
            j for j in jobs
            if j.props.get("spark.jobGroup.id") == call.group
            or (
                "spark.jobGroup.id" not in j.props
                and call.start_ms <= j.start_ms <= call.end_ms
            )
        ]


def union_ms(spans: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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


def summarize(call: Call) -> dict[str, float]:
    """Counts and times of one call's jobs."""
    spans = [(j.start_ms, j.end_ms) for j in call.jobs if j.end_ms is not None]
    busy = union_ms(spans)
    return {
        "jobs": len(call.jobs),
        "tasks": sum(j.tasks for j in call.jobs),
        "task_s": sum(j.run_ms for j in call.jobs) / 1e3,
        "task_cpu_s": sum(j.cpu_ns for j in call.jobs) / 1e9,
        "gc_s": sum(j.gc_ms for j in call.jobs) / 1e3,
        "shuffle_bytes": sum(j.shuffle_bytes for j in call.jobs),
        "spill_bytes": sum(j.spill_bytes for j in call.jobs),
        "bytes_written": sum(j.bytes_written for j in call.jobs),
        "driver_gap_s": call.wall_s - busy / 1e3,
        "job_concurrency": (
            sum(e - s for s, e in spans) / busy if busy > 0 else 0.0
        ),
    }


def jobs_by_batch(jobs: list[Job]) -> dict[int, list[Job]]:
    """Jobs of streaming micro-batches, keyed by batch id."""
    out: dict[int, list[Job]] = {}
    for j in jobs:
        b = j.props.get("streaming.sql.batchId")
        if b is not None:
            out.setdefault(int(b), []).append(j)
    return out
