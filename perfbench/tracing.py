"""Spans around the benchmark's calls into the engine, and the Spark event
log that attributes jobs, stages and tasks to them.

Each timed call gets its own Spark job group, ``<workload>.<kind>.<n>``, so
every job it submits is found again in the event log by group id.  The log
is written with ``spark.eventLog.enabled=true``, ``compress=false`` and
``rolling.enabled=false``: one plain JSON-lines file, parsed after the
session stops.  A span's self time is its duration minus the part of it
that its child jobs cover.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    kind: str
    group: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Times calls; when ``enabled`` also tags their Spark jobs.

    Timing is always on (the end-to-end metrics come from it); only the
    job-group tagging and the event log are tracing.
    """

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, kind: str, **info):
        group = f"{self.workload}.{kind}.{len(self.spans)}"
        if self.enabled:
            self.sc.setJobGroup(group, kind)
        s = Span(kind, group, time.time(), 0.0, dict(info))
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self.sc.setJobGroup(f"{self.workload}.untimed", "untimed")
            self.spans.append(s)

    def of(self, kind: str) -> list[Span]:
        return [s for s in self.spans if s.kind == kind]


@dataclass
class Job:
    group: str | None
    start: float
    end: float | None
    stage_ids: list[int]


@dataclass
class Stage:
    start: float
    end: float
    n_tasks: int


@dataclass
class Task:
    run_s: float
    cpu_s: float
    spill_bytes: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int


_WANTED = (
    b'"SparkListenerJobStart"',
    b'"SparkListenerJobEnd"',
    b'"SparkListenerStageCompleted"',
    b'"SparkListenerTaskEnd"',
)


class EventLog:
    """Jobs, completed stages and finished tasks of one application."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.tasks: dict[int, list[Task]] = defaultdict(list)
        with open(path, "rb") as f:
            for line in f:
                # the log also holds environment and block-manager events;
                # only these four are parsed
                if not any(w in line[:60] for w in _WANTED):
                    continue
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                props.get("spark.jobGroup.id"),
                e["Submission Time"] / 1000,
                None,
                list(e["Stage IDs"]),
            )
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1000
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                self.stages[info["Stage ID"]] = Stage(
                    info["Submission Time"] / 1000,
                    info["Completion Time"] / 1000,
                    info["Number of Tasks"],
                )
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                return
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            self.tasks[e["Stage ID"]].append(
                Task(
                    m["Executor Run Time"] / 1000,
                    m["Executor CPU Time"] / 1e9,
                    m["Disk Bytes Spilled"],
                    sw.get("Shuffle Bytes Written", 0),
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                )
            )

    def jobs_of(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def call_stats(self, span: Span) -> dict:
        """What the jobs of one span did: counts, stage and task totals,
        and the span's self time outside them."""
        jobs = self.jobs_of(span.group)
        stage_ids = sorted(
            {s for j in jobs for s in j.stage_ids if s in self.stages}
        )
        tasks = [t for s in stage_ids for t in self.tasks.get(s, [])]
        heaviest = max(
            stage_ids,
            key=lambda s: sum(t.run_s for t in self.tasks.get(s, [])),
            default=None,
        )
        heavy_runs = sorted(
            t.run_s for t in self.tasks.get(heaviest, [])
        ) if heaviest is not None else []
        med = statistics.median(heavy_runs) if heavy_runs else 0.0
        return {
            "spark_jobs": len(jobs),
            "stages": len(stage_ids),
            "stage_wall_s": sum(
                self.stages[s].end - self.stages[s].start for s in stage_ids
            ),
            "stage_task_s": sum(t.run_s for t in tasks),
            "stage_jvm_cpu_s": sum(t.cpu_s for t in tasks),
            "spill_bytes": sum(t.spill_bytes for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
            "heaviest_stage_tasks": (
                self.stages[heaviest].n_tasks if heaviest is not None else 0
            ),
            "task_skew": max(heavy_runs) / med if med > 0 else 0.0,
            "driver_self_s": self_time(span, jobs),
        }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    ):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, jobs: list[Job]) -> float:
    """The span's duration minus the part its jobs cover."""
    ivals = [(j.start, j.end if j.end is not None else span.end) for j in jobs]
    return span.wall - covered(ivals, span.start, span.end)
