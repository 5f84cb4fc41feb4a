"""Summary statistics and metric-name rules shared by the runner and the
trace tools."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128
MIN_BEYOND = 10


def tail_percentile(samples: list[float], min_beyond: int = MIN_BEYOND) -> dict:
    """The highest percentile of ``samples`` that still has at least
    ``min_beyond`` samples above it.

    With n samples sorted ascending, the value at rank r (1-based) has
    n - r samples beyond it; the highest admissible rank is n - min_beyond
    and it sits at percentile 100 * r / n.  Returns the value, that
    percentile and the sample count.  With ``min_beyond`` samples or fewer
    no rank qualifies: the minimum is reported, and ``beyond`` (below
    ``min_beyond``) shows it.
    """
    if not samples:
        raise ValueError("tail_percentile needs at least one sample")
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, n - min_beyond)
    return {
        "value": xs[rank - 1],
        "percentile": round(100.0 * rank / n, 2),
        "samples": n,
        "beyond": n - rank,
    }


def geomean(values) -> float:
    """Geometric mean of positive values."""
    xs = list(values)
    if not xs:
        raise ValueError("geomean needs at least one value")
    if min(xs) <= 0:
        raise ValueError("latencies must be positive")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def geomean_of_medians(per_op: dict[str, list[float]]) -> float:
    """Geometric mean over ops of each op's median, so every op weighs
    the same whatever its latency."""
    return geomean(statistics.median(v) for v in per_op.values() if v)


def best_of(per_op: dict[str, list[float]]) -> dict[str, float]:
    """Each op's fastest latency over its samples (best-of-k).  Steal and
    host contention only ever add time, so the fastest of k runs is the
    least disturbed estimate of what the op costs."""
    return {op: min(v) for op, v in per_op.items() if v}


def check_metric_names(names: list[str], cap: int) -> None:
    """Raise if a name breaks the metric-name rule or the list is over
    ``cap`` or repeats a name."""
    if len(names) > cap:
        raise ValueError(f"{len(names)} metrics exceed the cap of {cap}")
    if len(set(names)) != len(names):
        raise ValueError("metric names must be unique")
    for n in names:
        if len(n) > 64 or not METRIC_NAME.fullmatch(n) or not n[0].isalnum():
            raise ValueError(f"bad metric name {n!r}")
