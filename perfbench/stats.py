"""Summary statistics shared by the benchmark and its steadiness check."""

from __future__ import annotations

import statistics


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values):
    """(q1, q2, q3) as statistics.quantiles(values, n=4) gives them."""
    values = list(values)
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def iqr_share(values) -> float:
    """Distance between the first and third quartile as a share of the
    median; 0 for a constant series."""
    q1, _, q3 = quartiles(values)
    m = median(values)
    if m == 0:
        return 0.0 if q3 == q1 else float("inf")
    return (q3 - q1) / abs(m)


def worse_by(first, second, better: str) -> float:
    """Share by which median(second) is worse than median(first); negative
    when it is better."""
    a, b = median(first), median(second)
    if a == 0:
        return 0.0 if b == a else float("inf")
    return (b - a) / abs(a) if better == "lower" else (a - b) / abs(a)
