"""Latency summaries and failure accounting for the benchmark."""

from __future__ import annotations

import statistics

# Percentiles the tail metric may report, lowest first.
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(rank) - 1]


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """-> (p, value): the highest percentile in TAIL_PERCENTILES that
    leaves at least ``beyond`` samples strictly above its rank. With
    fewer than 2 * beyond samples no percentile qualifies and the
    median is reported, so the answer is always (p, value) with the
    percentile named."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    best = TAIL_PERCENTILES[0]
    for p in TAIL_PERCENTILES:
        rank = -(-n * p // 100)
        if n - rank >= beyond:
            best = p
    return best, percentile(values, best)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


class OpLog:
    """Every timed operation of one run: kind, latency and whether it
    failed (raised, or returned a wrong result found by a later
    check). failed_frac = failed / attempted over all kinds."""

    def __init__(self) -> None:
        self.ops: list[dict] = []

    def add(self, kind: str, seconds: float, key=None, error: str | None = None) -> dict:
        op = {"id": len(self.ops), "kind": kind, "s": seconds, "key": key,
              "error": error}
        self.ops.append(op)
        return op

    def fail(self, op: dict, reason: str) -> None:
        if op["error"] is None:
            op["error"] = reason

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o["error"] is not None)

    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.ops else 0.0

    def errors(self) -> list[dict]:
        return [o for o in self.ops if o["error"] is not None]
