"""Spark JSON event log -> per-span totals.  Standard library only.

Each benchmark span runs its Spark calls under its own job group.  A job
belongs to the span whose group it carries; a job with no group (or an
unknown one) falls back to the innermost span whose wall interval holds
its submission time.  Task-end metrics reach a span through their stage's
job.  ``driver_gap_s`` is span wall time not covered by the union of its
jobs' [submission, completion] intervals: planning, collects and driver
Python work.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
MB = 1024.0 * 1024.0


@dataclass
class Span:
    """One call: a job group id, the span name, wall start/end (epoch s)."""

    group: str
    name: str
    start: float
    end: float


@dataclass
class Totals:
    calls: int = 0
    wall_s: float = 0.0
    walls: list = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    driver_gap_s: float = 0.0
    shuffle_write_mb: float = 0.0
    output_mb: float = 0.0


def read_events(path: str) -> list[dict]:
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_totals(events: list[dict], spans: list[Span]) -> dict[str, Totals]:
    """Aggregate jobs, tasks and task metrics per span name."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get(GROUP_KEY),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0

    by_group = {s.group: s for s in spans}

    def owner(job: dict) -> Span | None:
        if job["group"] in by_group:
            return by_group[job["group"]]
        holding = [s for s in spans if s.start <= job["start"] <= s.end]
        return min(holding, key=lambda s: s.end - s.start) if holding else None

    job_span = {jid: owner(j) for jid, j in jobs.items()}
    out: dict[str, Totals] = {}
    span_jobs: dict[str, list[tuple[float, float]]] = {s.group: [] for s in spans}
    for s in spans:
        t = out.setdefault(s.name, Totals())
        t.calls += 1
        t.wall_s += s.end - s.start
        t.walls.append(s.end - s.start)
    for jid, j in jobs.items():
        s = job_span[jid]
        if s is None:
            continue
        out[s.name].jobs += 1
        span_jobs[s.group].append((j["start"], j["end"] if j["end"] else s.end))
    for s in spans:
        covered = _covered(span_jobs[s.group], s.start, s.end)
        out[s.name].driver_gap_s += max(s.end - s.start - covered, 0.0)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev.get("Stage ID"))
        s = job_span.get(jid)
        if s is None:
            continue
        t = out[s.name]
        m = ev.get("Task Metrics") or {}
        t.tasks += 1
        t.exec_run_s += m.get("Executor Run Time", 0) / 1000.0
        t.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        t.jvm_gc_s += m.get("JVM GC Time", 0) / 1000.0
        t.shuffle_write_mb += (
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
        )
        t.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    return out
