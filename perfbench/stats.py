"""The benchmark's own arithmetic: medians, the tail percentile, ratios,
run-to-run spread and metric-name validity.

Kept free of Spark and numpy so ``test_stats.py`` checks it in well under a
second.
"""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    """A metric or workload name: starts with a letter or digit, then at
    most 63 more letters, digits, ``_``, ``.`` or ``-``."""
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(
    values: list[float], beyond: int = 10
) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as ``(percentile, value)``; ``None`` when there are too few
    samples for any (``len(values) <= beyond``).

    With ``n`` samples sorted ascending, the value is the ``n - beyond``-th
    one and its percentile is ``100 * (n - beyond) / n``: 40 samples give
    the 75th percentile, 100 samples the 90th.
    """
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond
    return 100.0 * k / n, sorted(values)[k - 1]


def ratio(numerator: float, denominator: float) -> float:
    """``numerator / denominator``; a zero or negative base is an error,
    never a silent 0 or infinity."""
    if denominator <= 0:
        raise ValueError(f"ratio base must be positive, got {denominator!r}")
    return numerator / denominator


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, q2)
