"""The benchmark's own arithmetic: percentiles, freshness, DAG timings.

Pure functions over plain numbers, so the self-tests in
``test_selftest.py`` can pin them without Spark.
"""

from __future__ import annotations

import math
import statistics

TAIL_CAP = 95.0  # never report a tail above p95
TAIL_BEYOND = 10  # a tail percentile needs this many samples beyond it


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values):
    """The highest percentile (capped at p95) with at least ten samples
    beyond it, by nearest rank. Returns ``(percentile, value)``, or
    ``(None, None)`` when there are too few samples for any tail.

    With n sorted samples the k-th (1-based) has n - k samples beyond it,
    so k <= n - 10; p95 is the rank ceil(0.95 n), reached from n = 200.
    """
    n = len(values)
    k = min(n - TAIL_BEYOND, math.ceil(TAIL_CAP / 100.0 * n))
    if k < 1:
        return None, None
    return 100.0 * k / n, sorted(values)[k - 1]


def freshness(due, committed):
    """Per-item staleness: commit time minus the time the item was DUE,
    not the time it was actually written — a late generator or a stalled
    loader both show up as staleness. Items never committed (``None``)
    have no freshness; the workload fails its check on them."""
    return [c - d for d, c in zip(due, committed) if c is not None]


def lateness(due, written):
    """How late the open-loop generator wrote each item (>= 0 when the
    generator keeps its schedule; a negative value would be a bug)."""
    return [w - d for d, w in zip(due, written) if w is not None]


def quartile_spread(values):
    """(Q3 - Q1) / median, as ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# -- DAG timings --------------------------------------------------------------
#
# deps: {job: set(jobs it waits for)}; start/end: {job: seconds}.


def critical_path(deps, start, end):
    """Longest dependency chain, weighting each job by its own duration:
    the makespan the net would have with unlimited slots and no
    scheduling delay."""
    finish = {}

    def fin(job):
        if job not in finish:
            before = max((fin(d) for d in deps.get(job, ())), default=0.0)
            finish[job] = before + (end[job] - start[job])
        return finish[job]

    return max((fin(j) for j in start), default=0.0)


def ready_wait(deps, start, end, dispatch):
    """Sum over jobs of (start - the moment the job became ready): the
    last dependency's end, or ``dispatch`` (when the runner began
    launching) for a job without dependencies."""
    total = 0.0
    for job, t in start.items():
        ready = max((end[d] for d in deps.get(job, ())), default=dispatch)
        total += t - ready
    return total


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def slot_busy_frac(start, end, slots):
    """Share of the slot-seconds between the first start and the last end
    that some job occupied."""
    if not start:
        return 0.0
    span = max(end.values()) - min(start.values())
    busy = sum(end[j] - start[j] for j in start)
    return busy / (slots * span) if span > 0 else 0.0


def tracing_overhead(walls, traced):
    """Tracing overhead from units run in alternation: each traced unit's
    wall time against the mean of its untraced neighbours (so a steady
    drift, such as JIT warm-up, cancels), as a median fraction."""
    ratios = []
    for i, (wall, on) in enumerate(zip(walls, traced)):
        if not on:
            continue
        near = [walls[j] for j in (i - 1, i + 1) if 0 <= j < len(walls) and not traced[j]]
        if near:
            ratios.append(wall / (sum(near) / len(near)) - 1.0)
    return median(ratios) if ratios else float("nan")


def layer_medians(units):
    """Per key, the median over units of the unit's total (0 where a unit
    has no such key: that unit never reached the layer)."""
    keys = set().union(*units) if units else set()
    return {k: median([u.get(k, 0) for u in units]) for k in sorted(keys)}


def rewrite_ratio(unit, rows_added):
    """Rows the engine's writers wrote in a unit, per row the unit added to
    the warehouse: 1 when every written row is new, more when writes
    rewrite rows that were already there."""
    written = unit["engine.save_table.rows"] + unit["engine.save_table_bucketed.rows"]
    return written / rows_added if rows_added else 0.0
