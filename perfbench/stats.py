"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile

# candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> dict:
    """The highest percentile of `TAIL_CANDIDATES` that leaves at least
    `min_beyond` samples strictly beyond its rank. Returns the value, the
    percentile and the sample count; with too few samples for even the
    median, the value is the maximum and the percentile is 100."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return {"value": percentile(values, p), "percentile": p, "samples": n}
    return {"value": float(max(values)), "percentile": 100.0, "samples": n}


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of [start, end] its children
    cover. Overlapping children are merged first, and child intervals are
    clipped to the parent, so no instant is subtracted twice."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered

