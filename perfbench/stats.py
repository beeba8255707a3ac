"""Order statistics used by every workload's report."""

from __future__ import annotations

import math
import statistics

# candidate percentiles for the tail figure, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(n: int, p: float) -> int:
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(len(xs), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly beyond the nearest-rank ``p`` percentile of n."""
    return n - _rank(n, p)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile of TAIL_LADDER that has at least
    ``min_beyond`` of ``n`` samples beyond it; None if even the median
    has fewer."""
    ok = [p for p in TAIL_LADDER if beyond(n, p) >= min_beyond]
    return ok[-1] if ok else None


def summary(values) -> dict:
    """Median, the tail percentile with >=10 samples beyond it, and n."""
    xs = list(values)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    tp = tail_percentile(len(xs))
    if tp is not None:
        out["tail_pct"] = tp
        out["tail"] = percentile(xs, tp)
    return out


def gmean_p50(latencies: dict[str, list[float]]) -> float:
    """Geometric mean over op classes of each class's median latency:
    every class weighs the same, whatever its share of the ops or its
    speed, so a 10% change in any one class moves the figure alike."""
    meds = [statistics.median(v) for v in latencies.values()]
    return math.exp(statistics.fmean(math.log(m) for m in meds))
