"""Percentiles and failure accounting for the benchmark's operations."""
import math
import statistics


def nearest_rank(values, q):
    """The ``q``-quantile (0 < q <= 1) by the nearest-rank rule, with the
    number of samples it rests on and the number ranked above it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    k = max(1, math.ceil(q * len(xs)))
    return {"value": xs[k - 1], "samples": len(xs), "beyond": len(xs) - k}


def account(ops):
    """Splits operations into the attempted count, the failed count and
    the times of the successful ones. A failed operation never enters a
    percentile: an exception after 0.2 s is not a 0.2 s operation."""
    ok = [o["seconds"] for o in ops if o["ok"]]
    return {"attempted": len(ops), "failed": len(ops) - len(ok), "times": ok}


def clean_passes(passes, ops):
    """Times of the passes none of whose operations failed."""
    bad = {o["pass"] for o in ops if not o["ok"]}
    return [p["seconds"] for p in passes if p["pass"] not in bad]


def median(values):
    return statistics.median(values) if values else float("nan")
