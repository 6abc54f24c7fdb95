"""Percentiles with sample-count gating."""

from __future__ import annotations

import math

# A p90 from fewer samples is mostly the single slowest op or two.
MIN_P90_SAMPLES = 100


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def p90(values) -> float | None:
    """The 90th percentile, or None below MIN_P90_SAMPLES samples."""
    if len(values) < MIN_P90_SAMPLES:
        return None
    return percentile(values, 90)


def summary(values) -> dict:
    """{'n', 'p50', 'p90'} of one op class; p90 is None when n < 100."""
    return {
        "n": len(values),
        "p50": percentile(values, 50) if values else None,
        "p90": p90(values),
    }
