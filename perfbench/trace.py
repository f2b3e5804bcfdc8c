"""Spans around the benchmark's calls into the engine's layers, and
the Spark event-log metrics folded into them.

Each span sets a Spark job group named ``<run id>:<span id>`` for the
duration of the call, so every job the call submits (broadcast and
AQE sub-jobs inherit the group) is attributed to it afterwards from
the event log. The engine itself sets no job groups. Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)


class Tracer:
    """Records spans; a disabled tracer records nothing and sets no
    job groups, so untraced runs pay no tracing cost."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _group(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        s = Span(
            id=self._next_id,
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            run=self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(self._group(s), name, False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name, False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    complete: float = 0.0
    stages_run: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    bytes_written: int = 0


def read_event_logs(log_dir: str) -> list[Job]:
    """Jobs of every application log in ``log_dir`` with their task
    metrics summed (a stage counts toward the first job that listed
    it, the one that ran it)."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        by_id: dict[int, Job] = {}
        stage_job: dict[int, Job] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        submit=ev["Submission Time"] / 1000.0,
                    )
                    by_id[job.id] = job
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd":
                    by_id[ev["Job ID"]].complete = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job.stages_run += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.tasks += 1
                    job.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    job.bytes_written += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
        jobs.extend(by_id.values())
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold(spans: list[Span], jobs: list[Job]) -> dict[str, int]:
    """Attach jobs to spans by job group and derive each span's
    measures into ``span.attrs``. Returns the number of jobs
    attributed to a span, and of jobs submitted during the traced
    window without any job group."""
    by_group = {f"{s.run}:{s.id}": s for s in spans}
    attributed = 0
    for job in jobs:
        span = by_group.get(job.group or "")
        if span is not None:
            span.jobs.append(job)
            attributed += 1
    lo = min((s.start for s in spans), default=0.0)
    hi = max((s.end for s in spans), default=0.0)
    # jobs submitted inside the traced window that no span claimed
    missed = sum(1 for j in jobs if j.group is None and lo <= j.submit <= hi)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    # a span's measures cover the jobs of its whole subtree (children
    # carry higher ids than their parents)
    subtree = {s.id: list(s.jobs) for s in spans}
    for s in reversed(spans):
        if s.parent is not None:
            subtree[s.parent].extend(subtree[s.id])
    for s in spans:
        sub = subtree[s.id]
        wall = s.end - s.start
        job_time = _covered([(j.submit, j.complete) for j in sub], s.start, s.end)
        s.attrs.update(
            wall_s=wall,
            self_s=wall
            - _covered([(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end),
            jobs=len(sub),
            stages=sum(j.stages_run for j in sub),
            tasks=sum(j.tasks for j in sub),
            driver_s=max(0.0, wall - job_time),
            exec_cpu_s=sum(j.exec_cpu_s for j in sub),
            gc_s=sum(j.gc_s for j in sub),
            shuffle_bytes=sum(j.shuffle_bytes for j in sub),
            spill_bytes=sum(j.spill_bytes for j in sub),
            input_bytes=sum(j.input_bytes for j in sub),
            bytes_written=sum(j.bytes_written for j in sub),
        )
    return {"attributed": attributed, "unattributed": missed}


def per_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Median of every measure over the calls of each span name."""
    grouped: dict[str, list[Span]] = {}
    for s in spans:
        grouped.setdefault(s.name, []).append(s)
    out = {}
    for name, calls in grouped.items():
        keys = set().union(*(c.attrs for c in calls))
        out[name] = {
            k: statistics.median(c.attrs[k] for c in calls if k in c.attrs)
            for k in sorted(keys)
        }
        out[name]["calls"] = len(calls)
    return out


def dump(spans: list[Span], path: str) -> None:
    """Write every span with its measures and per-call job/stage
    counts (the determinism check compares these across runs)."""
    rows = [
        {
            "id": s.id,
            "name": s.name,
            "parent": s.parent,
            "run": s.run,
            "start": s.start,
            "end": s.end,
            **{k: v for k, v in s.attrs.items()},
        }
        for s in spans
    ]
    with open(path, "w") as f:
        json.dump(rows, f, indent=1)
