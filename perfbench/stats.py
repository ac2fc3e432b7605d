"""Percentiles that are only reported when the sample supports them, and
the per-call median the latency metrics report."""

from __future__ import annotations

import math

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 < q < 100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least :data:`MIN_BEYOND` above the
    ``q``-th percentile."""
    return n * (100.0 - q) / 100.0 >= MIN_BEYOND


def summarize(values: list[float], qs: tuple[float, ...] = (50, 90, 99)) -> dict:
    """``{"n": len, "p50": …, "p90": …}`` with only the supported
    percentiles present."""
    out: dict = {"n": len(values)}
    for q in qs:
        if supported(len(values), q):
            out[f"p{q:g}"] = percentile(values, q)
    return out


def per_call_p50(by_call: dict[str, list[float]]) -> float:
    """Geometric mean over calls of each call's median latency.

    A run's calls differ in cost by up to two orders of magnitude and each
    has only a few samples, so a median of the pooled latencies jumps
    between calls from run to run. Each call's own median, averaged on a
    log scale, moves smoothly, and a call made k times faster moves it by
    the same factor whatever that call costs."""
    meds = [percentile(v, 50) for v in by_call.values() if v]
    if not meds:
        raise ValueError("no latencies")
    return math.exp(sum(map(math.log, meds)) / len(meds))
