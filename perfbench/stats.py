"""Arithmetic on the raw observations the benchmark JVM writes.

Everything here is pure and covered by ``test_stats.py``:

* ``percentile`` reports a percentile only when at least ``MIN_BEYOND``
  samples lie beyond it, so a tail figure never rests on one or two points;
* ``self_time`` is a span's duration minus the part covered by its
  children, where children may overlap each other and the span's edges;
* ``open_loop`` turns open-loop request records into latency measured from
  each request's due time, and into how late the generator sent it;
* ``cpu_ms_per_deposit`` turns per-micro-batch CPU into a cost per deposit
  that one slow micro-batch cannot move.
"""

import math
import statistics

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank ``p``-th percentile (0 < p < 100) of ``values``.

    Returns None unless at least ``MIN_BEYOND`` samples are strictly beyond
    the reported rank.
    """
    if not 0 < p < 100:
        raise ValueError("p must be in (0, 100)")
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def tail(values):
    """(p, value): the highest whole percentile ``percentile`` reports."""
    for p in range(99, 0, -1):
        v = percentile(values, p)
        if v is not None:
            return p, v
    return None, None


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """Duration of [start, end) not covered by any child interval."""
    return (end - start) - covered(start, end, children)


def open_loop(records):
    """(latency, lateness) lists for open-loop records.

    Each record has ``due_ms``, ``start_ms`` and ``end_ms``. Latency runs
    from the due time to the response, so a request the generator could
    only send late is charged for its wait (no coordinated omission).
    Lateness is how far after its due time the request was sent.
    """
    latency = [r["end_ms"] - r["due_ms"] for r in records]
    lateness = [max(0.0, r["start_ms"] - r["due_ms"]) for r in records]
    return latency, lateness


def batches_per_write(batches, writes):
    """Micro-batches per write, by query, from records with a ``query``."""
    counts = {}
    for b in batches:
        counts[b["query"]] = counts.get(b["query"], 0) + 1
    return {q: c / writes for q, c in counts.items()}


def cpu_ms_per_deposit(measured, per_write, deposits_per_write):
    """Executor CPU per deposit.

    Each query's median ``cpu_ms`` over the ``measured`` micro-batches,
    times its micro-batches per write, summed over the queries and divided
    by the deposits one write carries.
    """
    by_query = {}
    for b in measured:
        by_query.setdefault(b["query"], []).append(b["cpu_ms"])
    return sum(statistics.median(v) * per_write[q] for q, v in by_query.items()) \
        / deposits_per_write
