"""Pure helpers: percentiles, span self time, seeded job order, metric names."""

from __future__ import annotations

import random
import re
import statistics
from collections.abc import Iterable, Sequence

# Metric and workload names: a letter or digit, then letters, digits, _ . -
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# Percentiles tried from the top when choosing the highest one to report.
PERCENTILE_LADDER = (99, 95, 90, 75, 50)
# A percentile is reported only when this many samples lie beyond it.
MIN_BEYOND = 10


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric or workload name, else raise."""
    if not isinstance(name, str) or not NAME_RE.fullmatch(name):
        raise ValueError(f"invalid name {name!r}: want [A-Za-z0-9][A-Za-z0-9_.-]{{0,63}}")
    return name


def check_unit(unit: str) -> str:
    if not isinstance(unit, str) or not UNIT_RE.fullmatch(unit):
        raise ValueError(f"invalid unit {unit!r}: want [A-Za-z0-9_/%.-]{{1,16}}")
    return unit


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0–100) with linear interpolation between ranks."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, ladder: Iterable[int] = PERCENTILE_LADDER) -> int | None:
    """Highest percentile in ``ladder`` with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or ``None`` when even the lowest has too few."""
    for q in sorted(ladder, reverse=True):
        if n * (100 - q) / 100.0 >= MIN_BEYOND:
            return q
    return None


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def permuted(jobs: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """The job order of one pass: a permutation fixed by seed and pass index."""
    order = list(jobs)
    random.Random(seed * 1_000_003 + pass_index).shuffle(order)
    return order


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its child spans cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)
