"""Pure-Python statistics and scheduling helpers for the benchmark.

Nothing here touches Spark, so the helpers are unit-tested in
``perfbench/tests`` without a session.
"""

from __future__ import annotations

import math
import time

#: a percentile is only reported when at least this many samples lie
#: beyond it; with fewer, the "p95" of a short run is really its maximum
MIN_BEYOND = 10
CANDIDATE_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(n: int, q: float) -> int:
    # the epsilon keeps 99.9% of 10000 at rank 9990, not 9991
    return min(n, max(1, math.ceil(q * n / 100.0 - 1e-9)))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[_rank(len(s), q) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q``-th percentile."""
    return n - _rank(n, q) if n else 0


def highest_reportable_percentile(
    n: int, min_beyond: int = MIN_BEYOND, candidates=CANDIDATE_PERCENTILES
) -> float | None:
    """The highest candidate percentile that still has ``min_beyond``
    samples above it, or None when even the median does not."""
    best = None
    for q in sorted(candidates):
        if samples_beyond(n, q) >= min_beyond:
            best = q
    return best


def summarize(values, unit: str) -> dict:
    """p50 plus the highest reportable tail percentile, with the sample
    count every timing must state."""
    out: dict = {"unit": unit, "n": len(values)}
    if not values:
        return out
    out["p50"] = percentile(values, 50)
    q = highest_reportable_percentile(len(values))
    if q is not None and q > 50:
        out[f"p{q:g}"] = percentile(values, q)
    out["max"] = max(values)
    return out


def bucket_deltas(series, start: float, end: float, bucket_s: float) -> list[float]:
    """Growth of a sampled, non-decreasing counter in each of the equal
    buckets that fit in ``[start, end)``. ``series`` is ``(time, value)``
    pairs in time order; the counter is interpolated linearly between
    samples and held flat beyond them."""

    def at(t: float) -> float:
        if t <= series[0][0]:
            return series[0][1]
        for (t0, v0), (t1, v1) in zip(series, series[1:]):
            if t <= t1:
                return v0 + (v1 - v0) * (t - t0) / (t1 - t0) if t1 > t0 else v1
        return series[-1][1]

    n = int((end - start) // bucket_s)
    return [at(start + (k + 1) * bucket_s) - at(start + k * bucket_s) for k in range(n)]


class OpenLoopSchedule:
    """Fixed-rate open-loop arrival schedule.

    Request ``i`` is *due* at ``start + i / rate`` whether or not earlier
    requests have finished, so a stall shows up as latency of the
    requests queued behind it: latency is measured from the due time,
    never from the moment a busy sender got round to the request.
    """

    def __init__(self, rate: float, start: float):
        if rate <= 0:
            raise ValueError("rate must be positive")
        self.rate = rate
        self.start = start

    def due(self, i: int) -> float:
        return self.start + i / self.rate

    def count_until(self, deadline: float) -> int:
        """Number of requests due strictly before ``deadline``."""
        if deadline <= self.start:
            return 0
        return math.ceil((deadline - self.start) * self.rate)

    @staticmethod
    def latency(due: float, done: float) -> float:
        return done - due

    @staticmethod
    def lateness(due: float, sent: float) -> float:
        """How late the generator sent a request (never negative)."""
        return max(0.0, sent - due)


def sleep_until(t: float) -> None:
    while True:
        d = t - time.time()
        if d <= 0:
            return
        time.sleep(min(d, 0.05))
