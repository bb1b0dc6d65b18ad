"""Arithmetic of the benchmark: medians and spreads, the tail percentile a
sample supports, and the better/worse/unchanged/unresolved verdict."""

from __future__ import annotations

import statistics

# Candidate tail percentiles, highest first. A percentile is reported only
# when at least TAIL_MIN_BEYOND samples lie beyond it.
TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10
# A change wins a metric only if it wins this share of at least MIN_PAIRS
# paired runs.
WIN_SHARE = 0.9
MIN_PAIRS = 10


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float]:
    """First and third quartile as ``statistics.quantiles(values, n=4)``
    gives them; a single value is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (0 for a median of
    0, whose spread cannot be expressed as a share)."""
    q1, q3 = quartiles(values)
    m = median(values)
    return (q3 - q1) / abs(m) if m else 0.0


def percentile(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(1, -(-len(sorted_values) * pct // 100))  # ceil(n * pct / 100)
    return sorted_values[int(k) - 1]


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile in ``TAIL_PCTS`` with at least
    ``TAIL_MIN_BEYOND`` samples strictly beyond it.

    Returns ``(pct, value, beyond)``; ``(0.0, max, 0)`` when the sample is
    too small for even the median to have ten samples beyond it."""
    s = sorted(values)
    if not s:
        return 0.0, 0.0, 0
    for pct in TAIL_PCTS:
        v = percentile(s, pct)
        beyond = sum(1 for x in s if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            return pct, v, beyond
    return 0.0, s[-1], 0


def verdict(base: list[float], change: list[float], better: str,
            bound: float | None) -> str:
    """Label a change on one (metric, workload) pair from paired runs.

    ``base[i]`` and ``change[i]`` form pair i. The change is ``better``
    (or ``worse``) when it wins (or loses) at least ``WIN_SHARE`` of the
    pairs, ties counting for neither side, and the medians differ by more
    than the base's interquartile distance. With a ``bound`` (end-to-end
    metrics), a median worse than the base's by more than the bound is
    also ``worse``, and a spread wider than the bound on either side makes
    the pair ``unresolved`` unless every change run beats every base run.
    Anything else is ``unchanged``. Fewer than ``MIN_PAIRS`` pairs are
    ``unresolved``."""
    if min(len(base), len(change)) < MIN_PAIRS:
        return "unresolved"
    sign = 1.0 if better == "higher" else -1.0
    mb, mc = median(base), median(change)
    gain = sign * (mc - mb)  # > 0: the change's median is better
    q1, q3 = quartiles(base)
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    losses = sum(1 for b, c in pairs if sign * (c - b) < 0)
    if bound is not None:
        if max(spread(base), spread(change)) > bound:
            if min(sign * c for c in change) > max(sign * b for b in base):
                return "better"
            return "unresolved"
        if -gain > bound * abs(mb):
            return "worse"
    if wins >= WIN_SHARE * len(pairs) and gain > q3 - q1:
        return "better"
    if losses >= WIN_SHARE * len(pairs) and -gain > q3 - q1:
        return "worse"
    return "unchanged"
