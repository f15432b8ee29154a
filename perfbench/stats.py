"""Sample summaries and failure accounting shared by every workload."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # a tail percentile needs this many samples above it


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Nearest-rank definition: the value at 1-based rank r has n - r samples
    above it, so the highest admissible rank is n - TAIL_BEYOND. The
    percentile is that rank's share of n, floored to a tenth of a percent,
    and the value is re-read at the floored percentile so that the
    reported (pct, value) pair is self-consistent. None when the sample
    is too small to support any tail (n <= TAIL_BEYOND).
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    pct = math.floor(1000.0 * (n - TAIL_BEYOND) / n) / 10.0
    rank = max(1, math.ceil(pct / 100.0 * n - 1e-9))
    return {"pct": pct, "value": sorted(samples)[rank - 1], "n": n}


def summarize(samples: list[float]) -> dict:
    """Median, tail percentile and sample count of one timing population."""
    if not samples:
        return {"n": 0, "p50": None, "tail": None}
    return {"n": len(samples), "p50": statistics.median(samples),
            "tail": tail_percentile(samples)}


def error_rate(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones (an exception, an
    ``{"ok": false}`` reply and a failed correctness check all count)."""
    if attempted < 1:
        raise ValueError("error_rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
