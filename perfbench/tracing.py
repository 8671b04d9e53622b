"""Spans recorded around calls into the engine, and Spark's event log
attributed to them.

A span is opened by the benchmark's own code around one call into a layer
(parse, construct, execute, a DML call, commit, restore, gc).  Spans live in
memory and are summarised when the run ends.  Times are wall-clock epoch
milliseconds, the clock Spark stamps its events with, so a job can be
placed inside the span whose interval contains its submission.  Time
intervals are used rather than job groups because ``commit`` submits its
writes from pool threads, which do not inherit a job group; with a single
client the spans of different operations never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator


def now_ms() -> float:
    return time.time_ns() / 1e6


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None

    @property
    def ms(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans when ``enabled``; otherwise every call is a
    no-op, so the untraced run pays only a flag test per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        self.spans.append(Span(name, now_ms(), parent=parent, op=self._op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = now_ms()


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    children cover (children may overlap each other; the union counts)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(s.ms - covered)
    return out


def coverage(spans: list[Span], start: float, end: float) -> float:
    """Share of ``[start, end]`` that top-level spans cover."""
    roots = [s for s in spans if s.parent is None]
    root = Span("loop", start, end)
    return 1.0 - self_times([root] + [
        Span(s.name, s.start, s.end, parent=0) for s in roots
    ])[0] / max(end - start, 1e-9)


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    sched_delay_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0

    def add(self, other: "StageStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, StageStats]]:
    """Parse the (single, uncompressed) event log Spark wrote to
    ``log_dir``: jobs with their stage ids, and per-stage task totals."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], float(ev["Submission Time"]),
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = float(ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageStats())
                st.add(_task_stats(ev))
    return sorted(jobs.values(), key=lambda j: j.submit), stages


def _task_stats(ev: dict) -> StageStats:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run = float(m.get("Executor Run Time", 0))
    duration = float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0))
    delay = duration - run - float(m.get("Executor Deserialize Time", 0)) - float(
        m.get("Result Serialization Time", 0)
    ) - float(info.get("Getting Result Time", 0) or 0)
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    return StageStats(
        tasks=1,
        failed_tasks=1 if info.get("Failed") else 0,
        run_ms=run,
        cpu_ns=float(m.get("Executor CPU Time", 0)),
        sched_delay_ms=max(0.0, delay),
        shuffle_read=float(sr.get("Remote Bytes Read", 0))
        + float(sr.get("Local Bytes Read", 0)),
        shuffle_write=float(sw.get("Shuffle Bytes Written", 0)),
        spill=float(m.get("Memory Bytes Spilled", 0))
        + float(m.get("Disk Bytes Spilled", 0)),
    )


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, int | None]:
    """Map each job id to the innermost span whose interval contains the
    job's submission, or None when no span does."""
    out: dict[int, int | None] = {}
    for j in jobs:
        best, best_len = None, None
        for i, s in enumerate(spans):
            if s.start <= j.submit <= s.end and (best_len is None or s.ms < best_len):
                best, best_len = i, s.ms
        out[j.id] = best
    return out
