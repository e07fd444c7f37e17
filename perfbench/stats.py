"""Summary statistics shared by the run and report commands."""

from __future__ import annotations

import statistics


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def percentile(xs: list[float], pct: float) -> float | None:
    """Linear-interpolated percentile (``statistics.quantiles``'s
    inclusive method)."""
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(pct) - 1]


def tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it: the
    sample ranked eleventh from the top. None below eleven samples."""
    if len(xs) < 11:
        return None
    n = len(xs)
    return {"pct": round(100.0 * (n - 10) / n, 2), "value": sorted(xs)[n - 11]}


def timing(base: str, xs: list[float]) -> dict:
    """``<base>_p50_s``, ``<base>_p90_s`` and ``<base>_tail_s`` (the
    highest percentile with ten samples beyond it, when there are
    eleven or more samples), each with its sample count."""
    out = {
        f"{base}_p50_s": {"value": median(xs), "unit": "s", "n": len(xs)},
        f"{base}_p90_s": {"value": percentile(xs, 90), "unit": "s", "n": len(xs)},
    }
    t = tail(xs)
    if t is not None:
        out[f"{base}_tail_s"] = {"value": t["value"], "unit": "s", "n": len(xs), "pct": t["pct"]}
    return out


def quartiles(xs: list[float]) -> dict:
    """Median, first and third quartile, and the quartile spread as a
    share of the median: the steadiness figure the benchmark's bounds
    are checked against."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {
        "median": q2,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / q2 if q2 else None,
    }
