"""Summary statistics used by the perfbench harness."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction


def tail_percentile(n: int, grid=(75, 90, 95, 99, 99.9),
                    beyond: int = 10) -> float | None:
    """Highest grid percentile with at least ``beyond`` of ``n`` samples
    above its nearest-rank position; None when even the lowest has
    fewer (``job_tail`` then takes the slowest job). The median is not
    on the grid: it is ``job_p50_s`` already, not a tail."""
    best = None
    for p in grid:
        if n - _rank(p, n) >= beyond:
            best = p
    return best


def _rank(p: float, n: int) -> int:
    """1-based nearest-rank position of percentile ``p`` among ``n``,
    in exact decimal arithmetic (99.9 / 100 * 10_000 is not 9990.0 in
    binary floating point)."""
    return math.ceil(Fraction(str(p)) * n / 100)


def job_tail(lat) -> tuple[float, float | None]:
    """``job_tail_s`` from warm-pass ``(job, latency)`` samples, and the
    percentile it is taken at. The samples the rule runs over are the
    jobs' median latencies, one per job, so the statistic does not
    change with the number of warm passes a run happens to fit. With
    fewer than 40 jobs no grid percentile qualifies; the tail is then
    the slowest job's median latency, and the percentile is None."""
    by_job = {}
    for name, t in lat:
        by_job.setdefault(name, []).append(t)
    meds = [median(ts) for ts in by_job.values()]
    p = tail_percentile(len(meds))
    return (percentile(meds, p) if p is not None else max(meds)), p


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, _rank(p, len(xs)) - 1)]


def median(values) -> float:
    return statistics.median(values)
