"""Metric arithmetic over streaming progress entries and timing samples.

Pure Python, no Spark: ``selftest.py`` exercises every function here.
"""

from __future__ import annotations

import statistics


def batch_entries(progress: list[dict]) -> list[dict]:
    """Progress entries of micro-batches that carried input rows.

    ``availableNow`` ends with no empty trigger, but a restarted query can
    report a zero-row entry; those are not micro-batches of work."""
    return [p for p in progress if (p.get("numInputRows") or 0) > 0]


def durations_ms(entries: list[dict], phase: str = "triggerExecution") -> list[float]:
    """One ``durationMs`` phase per entry (0 when the phase is absent)."""
    return [float((p.get("durationMs") or {}).get(phase, 0)) for p in entries]


def split_warm(entries: list[dict], n_warm: int) -> tuple[list[dict], list[dict]]:
    """Split a stream's batch entries, in batch-id order, into the first
    ``n_warm`` (warm-up) and the rest (timed). Raises if a batch id repeats:
    a resumed query that re-ran a committed batch would be counted twice."""
    if n_warm < 0:
        raise ValueError("n_warm must be >= 0")
    ordered = sorted(entries, key=lambda p: p["batchId"])
    ids = [p["batchId"] for p in ordered]
    if len(set(ids)) != len(ids):
        raise ValueError(f"repeated batch ids in progress: {ids}")
    return ordered[:n_warm], ordered[n_warm:]


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def quartile_spread(values: list[float]) -> tuple[float, float, float, float]:
    """``(q1, median, q3, (q3 - q1) / median)`` as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which ``second`` is worse than ``first`` (negative when
    better), for a metric where ``better`` is ``"lower"`` or ``"higher"``."""
    if first == 0:
        return 0.0 if second == first else float("inf")
    if better == "lower":
        return (second - first) / first
    return (first - second) / first
