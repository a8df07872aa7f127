"""Pure helpers for turning samples into reported numbers."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples, min_beyond: int = TAIL_MIN_BEYOND) -> dict:
    """The highest whole percentile that has at least ``min_beyond``
    samples strictly above its rank.

    Uses the nearest-rank definition: percentile ``p`` of ``n`` sorted
    samples is the sample at rank ``ceil(p * n / 100)``, which leaves
    ``n - rank`` samples beyond it. Returns ``{"percentile", "value",
    "samples", "beyond"}``. Needs at least ``min_beyond + 1`` samples.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        raise ValueError(f"{n} samples cannot support a tail with {min_beyond} beyond it")
    p = 99
    while math.ceil(p * n / 100) > n - min_beyond:
        p -= 1
    rank = max(1, math.ceil(p * n / 100))
    return {"percentile": p, "value": xs[rank - 1], "samples": n, "beyond": n - rank}


def error_rate(attempted: int, failed: int) -> float:
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted
