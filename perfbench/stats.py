"""Pure arithmetic behind the benchmark's reported numbers.

No Spark, no I/O: the percentile rule, span self times and the span
reconciliation are plain functions so the tests can pin them.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterable, Sequence

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# A query's child spans (build, plan, execute) must cover the wall time
# measured around it, and a pass's query spans the pass's wall time, up
# to this share; the rest is the tracer's own bookkeeping.
RECONCILE_MARGIN = 0.05


def tail_percentile(samples: Sequence[float], beyond: int = 10) -> tuple[int, float] | None:
    """Highest whole percentile that still has ``beyond`` samples above it.

    Nearest-rank: percentile ``p`` of ``n`` sorted samples is the sample at
    rank ``ceil(p * n / 100)``. The largest ``p`` whose rank leaves at
    least ``beyond`` samples after it is ``floor(100 * (n - beyond) / n)``.
    Returns ``(p, value)``, or None when fewer than ``beyond + 1``
    samples exist (no percentile has that many beyond it).
    """
    n = len(samples)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    if p < 1:
        return None
    rank = math.ceil(p * n / 100)
    return p, sorted(samples)[rank - 1]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
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


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (children are clipped to
    the parent's interval). Spans are dicts with ``id``, ``parent``,
    ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p in by_id:
            ps = by_id[p]
            lo, hi = max(s["start"], ps["start"]), min(s["end"], ps["end"])
            if hi > lo:
                children.setdefault(p, []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
        for s in spans
    }


def unaccounted_share(parent: dict, spans: Sequence[dict], wall: float | None = None) -> float:
    """Share of ``wall`` that ``parent``'s direct child spans leave
    uncovered, the children clipped to the parent's interval.

    ``wall`` is a duration measured outside the spans (by default the
    parent span's own duration). Against such a clock a child span that
    is missing, or recorded under another parent, shows as uncovered
    time, and so does time lost between the spans.
    """
    if wall is None:
        wall = parent["end"] - parent["start"]
    if wall <= 0:
        return 0.0
    kids = [
        (max(s["start"], parent["start"]), min(s["end"], parent["end"]))
        for s in spans
        if s["parent"] == parent["id"]
    ]
    covered = union_length((lo, hi) for lo, hi in kids if hi > lo)
    return max(0.0, 1.0 - covered / wall)
