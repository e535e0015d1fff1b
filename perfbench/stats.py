"""Latency figures, failure accounting, output-quality scorers and the
host-speed probe.

Failed operations rank above every successful one: each failure is given
the workload's operation timeout as its latency, and a successful operation
that ran longer than the timeout is itself a failure. Replacing a failure by
a success can therefore never raise any order statistic.

The quality scorers live here, in the benchmark, and not in the program's
own evaluation helpers, so that a change to the program cannot redefine
what it is scored against.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter
from dataclasses import dataclass

TAIL_BEYOND = 10  # samples the tail percentile must leave above it


@dataclass(frozen=True)
class Op:
    shape: str
    wall_s: float
    cells: int  # input cells; processed only if ok
    error: str = ""  # "<ExceptionType>: message", or the failed output check

    @property
    def ok(self) -> bool:
        return not self.error


def ranked_latencies(ops: list[Op], timeout_s: float) -> list[float]:
    return sorted(o.wall_s if o.ok else max(timeout_s, o.wall_s) for o in ops)


def p50(ops: list[Op], timeout_s: float) -> float:
    return statistics.median(ranked_latencies(ops, timeout_s))


def tail(ops: list[Op], timeout_s: float) -> tuple[float, float, int] | None:
    """(latency, percentile, samples) for the highest percentile with at
    least ``TAIL_BEYOND`` samples beyond it, or None where that percentile
    is not above the median (fewer than 2 * TAIL_BEYOND + 1 samples)."""
    lat = ranked_latencies(ops, timeout_s)
    n = len(lat)
    rank = n - TAIL_BEYOND  # 1-based nearest rank
    if rank <= n / 2:
        return None
    return lat[rank - 1], 100.0 * rank / n, n


def success_rate(ops: list[Op]) -> float:
    return sum(o.ok for o in ops) / len(ops)


def cells_per_s(ops: list[Op]) -> float:
    """Cells of the successful operations over the wall time of all of
    them: a failed operation costs time and processes nothing."""
    wall = sum(o.wall_s for o in ops)
    return sum(o.cells for o in ops if o.ok) / wall if wall else 0.0


def failures_by_type(ops: list[Op]) -> Counter:
    """Failed operations per exception type (the text before the first
    colon); a failed output check counts as ``check``."""
    return Counter(o.error.split(":", 1)[0] for o in ops if not o.ok)


# ---------------------------------------------------------------------------
# quality scorers


def typed_share(predicted: list[dict[str, str] | None], truth: list[dict[str, str]]) -> float:
    """Share of ground-truth columns, pooled over tables, whose predicted
    class equals the truth. A table whose operation failed (``None``) and a
    column missing from a prediction count as wrong."""
    right = sum(p is not None and p.get(col) == label
                for p, t in zip(predicted, truth) for col, label in t.items())
    return right / sum(len(t) for t in truth)


def spec_triples(columns: dict[str, tuple[str, str]],
                 links) -> set[tuple[str, str, str]]:
    """Triples of an SSD: (class, data property, column) per mapped column and
    (class, object property, class) per class link (a, b, property)."""
    out = {(c, p, col) for col, (c, p) in columns.items()}
    out.update((a, p, b) for a, b, p in links)
    return out


def triple_precision(predicted: set, gold: set) -> float:
    """Share of predicted triples that are in the gold SSD; no prediction
    scores 0."""
    return len(predicted & gold) / len(predicted) if predicted else 0.0


def mean_precision(predicted: list[set | None], gold: list[set]) -> float:
    """Mean triple precision over requests; a failed request scores 0."""
    return sum(triple_precision(p or set(), g) for p, g in zip(predicted, gold)) / len(gold)


# ---------------------------------------------------------------------------
# host-speed probe


def host_probe(loops: int = 3) -> float:
    """Seconds for a fixed pure-Python loop, the best of ``loops`` tries.
    Printed before and after every timed window, so that host drift can be
    told apart from a change in the program."""
    best = float("inf")
    for _ in range(loops):
        t = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t)
    return best
