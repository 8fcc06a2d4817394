"""Pure arithmetic behind the benchmark's figures: medians, the tail
percentile rule, span self-time and freshness from probe observations.
No Spark, no I/O, so the tests exercise it alone."""

from __future__ import annotations

import math
import statistics

#: A tail percentile needs at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, sample count) of the highest percentile that
    has at least ``MIN_BEYOND`` samples beyond it: the sample of rank
    n - MIN_BEYOND, which is the p = 100 (n - MIN_BEYOND) / n percentile.
    The rule is continuous in n, so a run with a few more samples moves
    the tail a little instead of jumping a rung.  With fewer than
    ``2 * MIN_BEYOND`` samples that rank falls below the median, and
    the median stands in."""
    n = len(values)
    rank = n - MIN_BEYOND
    if rank <= n / 2:
        return 50.0, median(values), n
    return 100.0 * rank / n, sorted(values)[rank - 1], n


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time per span id: the span's duration minus the part of its
    interval that its child spans cover (children that overlap each
    other, as concurrent children do, count once).

    ``spans`` is an iterable of (span_id, parent_id, start, end)."""
    spans = list(spans)
    children: dict = {}
    for sid, parent, s, e in spans:
        if parent is not None:
            children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _parent, s, e in spans:
        clipped = [
            (max(s, cs), min(e, ce))
            for cs, ce in children.get(sid, ())
            if min(e, ce) > max(s, cs)
        ]
        out[sid] = (e - s) - covered(clipped)
    return out


def freshness(due, observations):
    """Freshness of an open-loop ingest, measured by a probe key that
    every input file adds exactly 1 to.

    ``due``: due time of each file, in write order (file ``i`` makes the
    probe total reach ``i + 1``).  ``observations``: (response time,
    probe total) pairs in the order the probe received them.

    Returns (latencies, unseen, decreases): for each file first seen,
    the time from its due time to the first response whose total
    includes it; the number of files never seen; and how many
    responses showed a smaller total than an earlier response."""
    latencies = []
    decreases = 0
    seen = 0
    high = 0
    for t, total in observations:
        if total < high:
            decreases += 1
            continue
        high = total
        while seen < min(total, len(due)):
            latencies.append(t - due[seen])
            seen += 1
    return latencies, len(due) - seen, decreases
