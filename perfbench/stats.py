"""Arithmetic the benchmark reports: the tail percentile and the
failure rate. Pure functions over plain lists, tested in
``perfbench/tests``."""

from __future__ import annotations

import math

#: Percentiles the tail metric may report, lowest first.
TAIL_LADDER = (50.0, 60.0, 70.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.9)
#: Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


def rank_index(n: int, pct: float) -> int:
    """0-based index of the nearest-rank ``pct`` percentile of ``n``
    sorted samples."""
    if n < 1:
        raise ValueError("no samples")
    # round() drops float noise such as 99.9 * 10000 / 100 = 9990.000000000002
    return max(math.ceil(round(pct * n / 100.0, 9)) - 1, 0)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float | None:
    """Highest percentile of :data:`TAIL_LADDER` with at least
    ``beyond`` of ``n`` samples strictly above its rank, or None when
    even the median has fewer."""
    best = None
    for pct in TAIL_LADDER:
        if n - 1 - rank_index(n, pct) >= beyond:
            best = pct
    return best


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (a value that was measured)."""
    ordered = sorted(values)
    return ordered[rank_index(len(ordered), pct)]


def tail(values: list[float], planned: int) -> tuple[float, float]:
    """(percentile, latency) of the op-latency tail.

    The percentile is chosen from ``planned`` — the sample count every
    run reaches — rather than from ``len(values)``, so a run given more
    seconds, and so more passes, reports the same percentile, not a
    higher one."""
    pct = tail_percentile(planned)
    if pct is None:
        raise ValueError(f"{planned} planned samples give no tail percentile")
    if len(values) < planned:
        raise ValueError(f"{len(values)} samples, {planned} planned")
    return pct, percentile(values, pct)


def fail_rate(attempted: int, failed: int) -> float:
    """Failed ops over attempted ops."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted


def count_failed(samples: list[tuple[str, bool]], mismatched: set[str]) -> int:
    """Samples that failed: the op raised (``ok`` false), or its output
    mismatched the oracle, which fails every sample of that op."""
    return sum(1 for name, ok in samples if not ok or name in mismatched)
