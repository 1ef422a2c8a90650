"""Spark 4.1 event-log reader: per-phase job, task, shuffle, spill, GC and
Python-UDF figures.

Spark 4.1 writes rolling ``eventlog_v2_*`` directories of zstd parts by
default, and no zstd decoder ships with this environment, so the traced
session writes one uncompressed, non-rolling log instead
(``spark.eventLog.rolling.enabled=false``, ``spark.eventLog.compress=false``):
a file of JSON lines named after the application id.

Jobs are grouped into phases by a caller-supplied function of the job
description (``spark.job.description``), which the crawl loop sets to
``w<N>:<phase>`` and the benchmark sets around its own calls.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Task:
    duration_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    py_run_ms: int
    py_bytes: int


@dataclass
class Job:
    job_id: int
    description: str | None
    submit_ms: int
    end_ms: int = 0
    tasks: list[Task] = field(default_factory=list)


def read_jobs(path: str) -> list[Job]:
    """Every job of the log with its successful task attempts."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = Job(e["Job ID"], props.get("spark.job.description"), e["Submission Time"])
                jobs[job.job_id] = job
                for sid in e["Stage IDs"]:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(e["Stage ID"])
                info, m = e["Task Info"], e.get("Task Metrics")
                if job_id is None or m is None or info.get("Failed"):
                    continue
                acc = {a.get("Name"): a.get("Update", 0) for a in info.get("Accumulables", [])}
                jobs[job_id].tasks.append(
                    Task(
                        duration_ms=info["Finish Time"] - info["Launch Time"],
                        gc_ms=m["JVM GC Time"],
                        shuffle_write_bytes=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        spill_bytes=m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                        py_run_ms=int(acc.get(PY_RUN, 0)),
                        py_bytes=int(acc.get(PY_SENT, 0)) + int(acc.get(PY_RETURNED, 0)),
                    )
                )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def covered_s(jobs: list[Job]) -> float:
    """Seconds during which at least one of ``jobs`` ran (the union of
    their submit..end intervals)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((j.submit_ms, max(j.end_ms, j.submit_ms)) for j in jobs):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def summarize(jobs: list[Job], nproc: int) -> dict[str, float]:
    """Figures of one group of jobs. ``wall_s`` is the union of the jobs'
    intervals; ``util`` = task_s / (wall_s * nproc); ``task_skew`` = max
    task time / median task time."""
    tasks = [t for j in jobs for t in j.tasks]
    wall = covered_s(jobs)
    task_s = sum(t.duration_ms for t in tasks) / 1000.0
    durations = [t.duration_ms for t in tasks]
    median = statistics.median(durations) if durations else 0
    return {
        "jobs": len(jobs),
        "wall_s": wall,
        "task_s": task_s,
        "util": task_s / (wall * nproc) if wall else 0.0,
        "task_skew": max(durations) / median if median else 0.0,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "shuffle_mb": sum(t.shuffle_write_bytes for t in tasks) / 1e6,
        "spill_mb": sum(t.spill_bytes for t in tasks) / 1e6,
        "py_udf_s": sum(t.py_run_ms for t in tasks) / 1000.0,
        "arrow_mb": sum(t.py_bytes for t in tasks) / 1e6,
    }


def by_phase(jobs: list[Job], phase_of) -> dict[str, list[Job]]:
    """Group jobs by ``phase_of(description)``; None drops the job."""
    out: dict[str, list[Job]] = {}
    for j in jobs:
        phase = phase_of(j.description)
        if phase is not None:
            out.setdefault(phase, []).append(j)
    return out
