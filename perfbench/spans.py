"""Spans, counters and Spark event-log attribution for the traced run.

Spans are recorded by the benchmark's own code around each call into a
program module and kept in memory until the run ends. A span's self time is
its duration minus the part of it that its child spans cover. With tracing
off, ``Tracer.span`` and ``Tracer.count`` record nothing.

Jobs, stages and tasks from the Spark event log are attributed to the
innermost span whose interval contains their submission or launch time. With
one client that is unambiguous; work submitted by the program's own threads
(the HTTP server's handler threads) falls inside the enclosing span.
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds, comparable with the event log
    end: float
    parent: int | None
    op: int | None  # operation index; None in set-up


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)  # "<phase>:<name>"
    op: int | None = None
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, self.op)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        """Add to a counter of the current phase: set-up or operations."""
        if self.enabled:
            key = f"{'setup' if self.op is None else 'op'}:{name}"
            self.counters[key] = self.counters.get(key, 0) + n


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {s.sid: (s.end - s.start) - covered(
        [(c.start, c.end) for c in children.get(s.sid, ())], s.start, s.end) for s in spans}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals`` covers."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


@dataclass
class EventLog:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submitted, completed)
    stages: list[float] = field(default_factory=list)  # submission times
    tasks: list[tuple[float, float, int]] = field(default_factory=list)  # (launch, busy s, shuffle bytes)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the uncompressed, non-rolling Spark event log in ``log_dir``."""
    ev, starts = EventLog(), {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[e["Job ID"]] = e["Submission Time"] / 1000
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in starts:
                    ev.jobs.append((starts.pop(e["Job ID"]), e["Completion Time"] / 1000))
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if "Submission Time" in info:
                        ev.stages.append(info["Submission Time"] / 1000)
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    ev.tasks.append((info["Launch Time"] / 1000,
                                     m.get("Executor Run Time", 0) / 1000, shuffle))
    return ev


@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    busy_s: float = 0.0
    shuffle_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def attribute(spans: list[Span], ev: EventLog) -> dict[int, SparkCounts]:
    """Spark work per span id, each item given to the innermost span that
    contains its start."""
    ordered = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in ordered]
    out: dict[int, SparkCounts] = {}

    def at(t: float) -> SparkCounts | None:
        i = bisect.bisect_right(starts, t) - 1
        while i >= 0:  # nested spans: the latest start that contains t
            if ordered[i].end >= t:
                return out.setdefault(ordered[i].sid, SparkCounts())
            i -= 1
        return None

    for a, b in ev.jobs:
        if (c := at(a)) is not None:
            c.jobs += 1
            c.job_intervals.append((a, b))
    for t in ev.stages:
        if (c := at(t)) is not None:
            c.stages += 1
    for t, busy, shuffle in ev.tasks:
        if (c := at(t)) is not None:
            c.tasks += 1
            c.busy_s += busy
            c.shuffle_bytes += shuffle
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
