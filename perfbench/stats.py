"""Sample statistics and failure accounting shared by every workload."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is only reported as supported when at least this many
#: samples lie beyond it
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return float(ordered[min(rank, len(ordered)) - 1])


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile with at least ``min_beyond`` of ``n`` samples
    beyond it, or None when there are fewer than ``min_beyond`` samples."""
    if n < min_beyond:
        return None
    return 100.0 * (n - min_beyond) / n


def tail(values: list[float], want: float, min_beyond: int = MIN_BEYOND) -> dict:
    """The ``want`` percentile plus whether the sample count supports it."""
    best = supported_percentile(len(values), min_beyond)
    return {
        "q": want,
        "value": percentile(values, want),
        "n": len(values),
        "supported": best is not None and best >= want,
        "highest_supported_q": best,
    }


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


class FailureLedger:
    """Attempted and failed operations by kind; ``failed_share`` is the sum
    of failures over the sum of attempts.

    Kinds: ``batch_apply`` (an apply that raised), ``event`` (an input
    event that was quarantined), ``sink_tx`` (a sink transaction diverted
    to fail.sql) and ``table`` (a final state that differs from the
    oracle)."""

    KINDS = ("batch_apply", "event", "sink_tx", "table")

    def __init__(self) -> None:
        self.attempted = {k: 0 for k in self.KINDS}
        self.failed = {k: 0 for k in self.KINDS}

    def add(self, kind: str, attempted: int, failed: int = 0) -> None:
        if kind not in self.attempted:
            raise KeyError(f"unknown operation kind {kind!r}")
        if failed > attempted or failed < 0:
            raise ValueError(f"{kind}: {failed} failed of {attempted} attempted")
        self.attempted[kind] += attempted
        self.failed[kind] += failed

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())

    @property
    def share(self) -> float:
        n = self.total_attempted
        return self.total_failed / n if n else 0.0

    def as_dict(self) -> dict:
        return {"attempted": dict(self.attempted), "failed": dict(self.failed),
                "failed_share": self.share}
