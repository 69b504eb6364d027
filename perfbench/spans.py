"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log summary of a product job.

Spans are kept in memory (name, start, end, parent, run id) and written
out once when the run ends. A span's self time is its duration minus the
part of its interval that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import median


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.name} is still open")
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span recorder. ``span(name)`` is a context manager; spans
    opened inside it become its children."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None,
                 run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.spans
                if c.parent == span.span_id]
        return span.duration - covered(kids, span.start, span.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) | {"self_s": self.self_time(s)}
                       for s in self.spans], f, indent=1)


def parse_event_log(paths: list[str], job_group: str) -> dict:
    """Per-job-group summary of a Spark event log: jobs, stages and tasks
    run for ``job_group``, shuffle bytes written, bytes spilled, and the
    task skew (max over median task time) of its longest stage."""
    job_stages: dict[int, list[int]] = {}
    tasks: dict[int, list[float]] = {}
    stage_span: dict[int, list[float]] = {}
    shuffle_b = spill_b = 0
    wanted: set[int] = set()
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") == job_group:
                job_stages[ev["Job ID"]] = list(ev["Stage IDs"])
                wanted.update(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in wanted:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            t0, t1 = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
            tasks.setdefault(ev["Stage ID"], []).append(t1 - t0)
            sp = stage_span.setdefault(ev["Stage ID"], [t0, t1])
            sp[0], sp[1] = min(sp[0], t0), max(sp[1], t1)
            shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            spill_b += m.get("Disk Bytes Spilled", 0) + m.get(
                "Memory Bytes Spilled", 0)
    if not job_stages:
        raise ValueError(f"no jobs in group {job_group!r} in {paths}")
    ran = list(tasks)  # skipped stages run no task
    longest = max(ran, key=lambda s: stage_span[s][1] - stage_span[s][0])
    med = median(tasks[longest])
    return {
        "jobs": len(job_stages),
        "stages": len(ran),
        "tasks": sum(len(v) for v in tasks.values()),
        "shuffle_write_mb": shuffle_b / 2**20,
        "spill_mb": spill_b / 2**20,
        "task_skew": max(tasks[longest]) / med if med > 0 else 1.0,
    }


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)
