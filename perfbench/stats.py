"""Pure arithmetic behind the benchmark record: percentiles, span self
time, error counting and plan fingerprints. Nothing here touches Spark,
so the unit tests exercise it directly."""

from __future__ import annotations

import hashlib
import math
import re
from collections.abc import Iterable, Sequence

# Percentiles a tail may be reported at, lowest first. A run reports the
# highest one that still leaves TAIL_MIN_BEYOND samples above it.
TAIL_PERCENTILES = (50, 75, 90, 95, 99)
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """Highest percentile in TAIL_PERCENTILES with at least
    TAIL_MIN_BEYOND of ``n`` samples strictly beyond it, or None when
    even the median has fewer than that."""
    best = None
    for p in TAIL_PERCENTILES:
        if n - math.ceil(n * p / 100) >= TAIL_MIN_BEYOND:
            best = p
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(len(ordered) * p / 100))
    return ordered[rank - 1]


def tail(values: Sequence[float]) -> dict | None:
    """The tail latency the record states: percentile, value and sample
    count, or None when the run has too few samples for any tail."""
    p = tail_percentile(len(values))
    if p is None:
        return None
    return {"percentile": p, "value": percentile(values, p), "samples": len(values)}


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("error_rate needs at least one attempted op")
    return failed / attempted


def count_failed(outcomes: Sequence[tuple[str, bool]], bad_checks: set[str]) -> int:
    """Failed ops among ``(op name, raised)`` outcomes: an op that raised,
    or any attempt of an op whose oracle check failed."""
    return sum(1 for name, raised in outcomes if raised or name in bad_checks)


_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"\[plan_id=\d+\]")
_LAMBDA_VAR = re.compile(r"\b(lambda [A-Za-z]\w*?)_\d+\b")


def normalize_plan(plan: str) -> str:
    """Strip what changes on every rebuild of the same query: expression
    ids (``amount#123``), exchange plan ids (``[plan_id=45]``) and the
    counter suffix of lambda variables (``lambda x_17``)."""
    return _LAMBDA_VAR.sub(r"\1", _PLAN_ID.sub("", _EXPR_ID.sub("", plan)))


def fingerprint(plan: str) -> str:
    return hashlib.sha256(normalize_plan(plan).encode()).hexdigest()[:16]

