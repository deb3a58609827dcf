"""Pure helpers shared by the workloads, the spread tool and the tests."""

from __future__ import annotations

import math
import re
import statistics

# BENCHMARK.json's rules for metric names and units.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# Candidate percentiles, highest last; see ``tail_percentile``.
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def nearest_rank(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest candidate percentile that has at least ``beyond`` samples
    strictly after its nearest rank, as ``(percentile, value)``; ``None``
    when even the median lacks that many (fewer than ``2 * beyond``
    samples)."""
    n = len(samples)
    best = None
    for pct in PERCENTILES:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= beyond:
            best = pct
    if best is None:
        return None
    return best, nearest_rank(samples, best)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
