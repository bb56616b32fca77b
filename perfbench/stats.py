"""Percentiles under the ten-beyond rule, and self time from trace spans."""

import math

import numpy as np

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def min_samples(q):
    """Smallest sample count that puts MIN_BEYOND samples beyond percentile q (0-100)."""
    return math.ceil(MIN_BEYOND / (1.0 - q / 100.0) - 1e-9)


def percentile(samples, q):
    """The q-th percentile (linear interpolation) of samples.

    Raises ValueError when fewer than MIN_BEYOND samples lie beyond it, so no
    percentile, the median included, is reported from too few samples.
    """
    n = len(samples)
    if n < min_samples(q):
        raise ValueError(f"p{q:g} needs {min_samples(q)} samples, have {n}")
    return float(np.percentile(np.asarray(samples, dtype=float), q))


def median(samples):
    """The median of a per-layer figure's samples, 0 when there are none.

    Per-layer figures have no bound; some come from a handful of samples (the
    micro-batches of one run), which the ten-beyond rule would not allow.
    """
    return float(np.median(np.asarray(samples, dtype=float))) if len(samples) else 0.0


def union_ms(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, hi = 0.0, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if hi is None or a > hi:
            total += b - a
            hi = b
        elif b > hi:
            total += b - hi
            hi = b
    return total


def self_times(spans):
    """Self time per span id: its duration minus the union of its children's intervals.

    ``spans`` are dicts with ``id``, ``start``, ``end`` and ``parent`` (the
    parent's id as a string, or ""). Children are clipped to their parent.
    """
    by_parent = {}
    for s in spans:
        by_parent.setdefault(str(s["parent"]), []).append(s)
    return {s["id"]: (s["end"] - s["start"]) - union_ms(
                (max(s["start"], c["start"]), min(s["end"], c["end"]))
                for c in by_parent.get(str(s["id"]), []))
            for s in spans}
