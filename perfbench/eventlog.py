"""Spark event-log reader: jobs, their stages and tasks, and the bytes
and times Spark itself recorded for them.

Jobs are attributed to benchmark windows (a route batch, a fold
trigger, a pump cycle) by time: a job belongs to the innermost window
that contains its submission time. Job-group tags cannot do this,
because jobs that ``foreachBatch`` starts run on stream threads that
carry no job description.

Within a window the time splits into ``busy`` (at least one job
running: the executors' side) and ``gap`` (no job running: the
driver's planning, py4j calls and Python code between jobs) — the
coordination / execution split of Drizzle (SOSP 2017).
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

from perfbench.trace import union_length

#: task-level counters summed per job; names are this module's own
COUNTERS = (
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "python_udf_s",
    "python_bytes_to_worker",
    "python_bytes_from_worker",
)

#: SQL metrics of the Arrow/pandas UDF operators (PythonSQLMetrics)
_PYTHON_ACCUMS = {
    "time to run Python workers": ("python_udf_s", 1e-3),
    "data sent to Python workers": ("python_bytes_to_worker", 1),
    "data returned from Python workers": ("python_bytes_from_worker", 1),
}


@dataclass
class Job:
    job_id: int
    submit_s: float
    end_s: float | None = None
    stages_run: set = field(default_factory=set)
    tasks: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


@dataclass(frozen=True)
class Window:
    """A labelled interval of wall time (epoch seconds)."""

    key: str
    start: float
    end: float

    @property
    def length(self) -> float:
        return self.end - self.start


def read_events(path: str) -> Iterable[dict]:
    """One JSON event per line; a torn last line (log still being
    written) is skipped."""
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def _task_counters(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    out = {
        "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
        "gc_s": tm.get("JVM GC Time", 0) * 1e-3,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = _PYTHON_ACCUMS.get(acc.get("Name"))
        if hit is not None:
            key, scale = hit
            out[key] = out.get(key, 0) + int(acc.get("Update") or 0) * scale
    return out


def parse_jobs(events: Iterable[dict]) -> list[Job]:
    """Jobs in submission order, with task counters summed per job.
    Times are epoch seconds; a job still running at the end of the
    log has ``end_s`` None."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(job_id=ev["Job ID"], submit_s=ev["Submission Time"] / 1000.0)
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = job
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                stage_job[sid].stages_run.add(sid)
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev.get("Stage ID"))
            if job is None:
                continue
            job.tasks += 1
            for k, v in _task_counters(ev).items():
                job.counters[k] += v
    return sorted(jobs.values(), key=lambda j: (j.submit_s, j.job_id))


def attribute(jobs: list[Job], windows: list[Window]) -> dict[str, list[Job]]:
    """Map each window key to the jobs submitted inside it. A job
    whose submission time lies in several (nested) windows goes to
    the shortest one; a job in none goes nowhere."""
    out: dict[str, list[Job]] = {w.key: [] for w in windows}
    by_len = sorted(windows, key=lambda w: w.length)
    for job in jobs:
        for w in by_len:
            if w.start <= job.submit_s <= w.end:
                out[w.key].append(job)
                break
    return out


def busy_gap(window: Window, jobs: list[Job]) -> tuple[float, float]:
    """(busy, gap) seconds inside ``window``: busy is the length of
    the union of the jobs' [submit, end] intervals clipped to the
    window; gap is the rest of the window."""
    busy = union_length(
        (max(j.submit_s, window.start), min(j.end_s, window.end))
        for j in jobs
        if j.end_s is not None and min(j.end_s, window.end) > max(j.submit_s, window.start)
    )
    return busy, max(window.length - busy, 0.0)


def totals(jobs: list[Job]) -> dict:
    """Summed job, stage, task and counter figures over ``jobs``."""
    out = {
        "jobs": len(jobs),
        "stages": sum(len(j.stages_run) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
    }
    for k in COUNTERS:
        out[k] = sum(j.counters[k] for j in jobs)
    return out
