"""Percentiles for latency samples."""

from __future__ import annotations

#: tail percentiles tried, highest first; a tail needs ≥10 samples beyond it
TAIL_LADDER = (99, 95, 90, 75)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile of ``TAIL_LADDER`` with at least ten samples
    beyond it; with fewer samples than that allows, p90 all the same (it
    interpolates, so it moves less than the maximum). Returns (value,
    which)."""
    for q in TAIL_LADDER:
        if len(values) * (100 - q) / 100.0 >= 10:
            return percentile(values, q), f"p{q}"
    return percentile(values, 90), "p90, fewer than 10 samples beyond"
