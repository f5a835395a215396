"""Pure arithmetic behind the benchmark's metrics (no Spark imports).

Kept apart from the measuring code so that ``test_arith.py`` can pin every
rule without starting a JVM.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field

TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


@dataclass(frozen=True)
class Tail:
    """The highest order statistic with at least ``beyond`` samples above
    it. ``percentile`` is the share of samples at or below ``value``."""
    value: float
    percentile: float
    samples: int


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> Tail | None:
    """Highest latency percentile that still has ``beyond`` samples beyond
    it; ``None`` when there are too few samples for any such percentile
    (fewer than ``beyond + 1``)."""
    n = len(values)
    idx = n - 1 - beyond
    if idx < 0:
        return None
    ordered = sorted(values)
    return Tail(value=ordered[idx], percentile=100.0 * (idx + 1) / n,
                samples=n)


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no items attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def scan_amplification(records_read: int, table_rows: int) -> float:
    """Records the scans produced per row of the tables the item read; 1.0
    means every table was read exactly once."""
    if table_rows <= 0:
        raise ValueError("scan_amplification needs the rows of at least "
                         "one table read")
    return records_read / table_rows


def slot_util(task_run_s: float, wall_s: float, cores: int) -> float:
    """Share of the available core-seconds that ran tasks."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("slot_util needs positive wall time and cores")
    return task_run_s / (wall_s * cores)


@dataclass
class Span:
    """One timed call at a layer boundary. ``parent`` is the index of the
    enclosing span in the same recorder, or ``None`` for an item root."""
    name: str
    start: float
    end: float
    parent: int | None
    item: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: Iterable[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def self_times(spans: Sequence[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.duration - _covered(children.get(i, ()), s.start, s.end)
            for i, s in enumerate(spans)]


def self_time_excluding(spans: Sequence[Span], idx: int,
                        names: set[str]) -> float:
    """Duration of span ``idx`` minus the time covered by its descendants
    whose name is in ``names`` (nested matches counted once)."""
    root = spans[idx]
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)
    hits: list[tuple[float, float]] = []
    stack = list(kids.get(idx, ()))
    while stack:
        i = stack.pop()
        if spans[i].name in names:
            hits.append((spans[i].start, spans[i].end))
        else:
            stack.extend(kids.get(i, ()))
    return root.duration - _covered(hits, root.start, root.end)
