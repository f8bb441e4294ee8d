"""Small statistics helpers shared by the workloads."""

from __future__ import annotations

import statistics

# A run whose timed result is below this share of the faster of the last
# two warm-up samples measured a process that was still getting faster:
# its warm-up had not settled. Over 73 runs of the two workloads on a
# 4-core host the share read 0.76-1.24. The floor sits below that because
# single passes and batches swing by up to 25% there, so it catches only
# gross cases: with query_mix's warm-up cut to one pass the share would
# have read 0.56-0.83.
SETTLE_FLOOR = 0.65

# Percentiles the benchmark may report beyond the median.
CANDIDATE_PERCENTILES = (75, 90, 95, 99)
MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``
    percent of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-len(s) * p // 100))
    return float(s[int(rank) - 1])


def supported_percentile(n: int) -> int | None:
    """The highest candidate percentile with at least ten samples beyond
    it out of ``n``, or None when even p75 is not supported (n < 40)."""
    best = None
    for p in CANDIDATE_PERCENTILES:
        if n * (100 - p) / 100 >= MIN_BEYOND:
            best = p
    return best


def open_loop_latencies(scheduled: list[float], sent: list[float], visible: list[float | None]):
    """Per-batch latency counted from the time a batch was DUE, not from
    when the generator got round to sending it, so a stall that delays
    the generator still counts against every batch behind it. Returns
    ``(latencies, lateness)``: one latency per batch that became visible
    (None otherwise), and how late the generator sent each batch."""
    latencies = [None if v is None else v - s for s, v in zip(scheduled, visible)]
    lateness = [max(0.0, t - s) for s, t in zip(scheduled, sent)]
    return latencies, lateness
