"""Percentile helpers.  A tail percentile is refused unless at least
``MIN_BEYOND`` samples lie beyond it, so a reported p90 always rests on
real tail samples rather than on interpolation between a handful."""

from __future__ import annotations

import statistics

MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def samples_beyond(n: int, q: float) -> float:
    """How many of ``n`` samples lie above the ``q``-th percentile."""
    return n * (100.0 - q) / 100.0


def tail_allowed(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    return samples_beyond(n, q) >= min_beyond


def percentile(xs: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Linear-interpolated ``q``-th percentile (0 < q < 100).  Any q above
    50 is a tail percentile and raises ValueError when fewer than
    ``min_beyond`` samples lie beyond it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    if not xs:
        raise ValueError("percentile of no samples")
    if q > 50 and not tail_allowed(len(xs), q, min_beyond):
        raise ValueError(
            f"p{q:g} needs {min_beyond} samples beyond it; "
            f"{len(xs)} samples give {samples_beyond(len(xs), q):g}"
        )
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def summary(xs: list[float]) -> dict:
    """{"n", "p50"} plus "p90" only when the sample count supports it."""
    out = {"n": len(xs)}
    if xs:
        out["p50"] = median(xs)
        if tail_allowed(len(xs), 90):
            out["p90"] = percentile(xs, 90)
    return out
