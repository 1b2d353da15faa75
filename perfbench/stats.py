"""Summary statistics shared by the runner and the compare command.

Pure functions with no Spark dependency, so their rules are unit-tested
on their own (``tests/test_stats.py``).
"""

from __future__ import annotations

import math
import re
import statistics

#: metric-name grammar of the benchmark contract
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``samples``."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-quantile, or None when fewer than ``MIN_BEYOND`` samples
    lie beyond it (p90 needs 100 samples, p75 needs 40)."""
    if math.floor(len(samples) * (1 - q) + 1e-9) < MIN_BEYOND:
        return None
    return percentile(samples, q)


def sum_of_medians(by_op: dict[str, list[float]]) -> float:
    """``pass_s``: each distinct operation's median latency across the
    run's timed passes, summed over the operations.  A slow outlier pass
    moves one operation's median at most, never the whole figure."""
    return sum(statistics.median(v) for v in by_op.values() if v)


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    if q3 == q1:
        return 0.0
    return (q3 - q1) / med if med else math.inf
