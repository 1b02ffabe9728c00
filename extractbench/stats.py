"""Sample summaries: median with quartiles and a sample count."""

from __future__ import annotations

import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def summary(xs: list[float]) -> dict:
    """``{"median", "q1", "q3", "n"}``; quartiles as
    ``statistics.quantiles(n=4)`` gives them (the median alone when
    there are fewer than two samples)."""
    if len(xs) < 2:
        m = median(xs)
        return {"median": m, "q1": m, "q3": m, "n": len(xs)}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}
