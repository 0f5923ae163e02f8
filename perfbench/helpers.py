"""Pure helpers of the benchmark: summary statistics, span self time,
order-insensitive result hashing and the seeded ingest batch assignment.

Nothing here imports pyspark, so ``test_helpers.py`` runs without a JVM.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import random
import statistics

#: a tail percentile must have at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[int, float, int]:
    """The highest whole percentile ``p`` whose nearest-rank value still
    has at least ``TAIL_MIN_BEYOND`` samples ranked beyond it; returns
    ``(p, value, samples_beyond)``.

    Nearest rank: the p-th percentile of n sorted samples is the one at
    1-based rank ``ceil(p * n / 100)``, which has ``n - rank`` samples
    beyond it.  A tail must not fall below the median, so with fewer than
    ``2 * TAIL_MIN_BEYOND`` samples (where the rule would give p < 50)
    this raises ``ValueError``.
    """
    n = len(samples)
    if n < 2 * TAIL_MIN_BEYOND:
        raise ValueError(
            f"{n} samples: a tail at or above p50 with {TAIL_MIN_BEYOND} "
            f"beyond needs at least {2 * TAIL_MIN_BEYOND}"
        )
    p = 100 * (n - TAIL_MIN_BEYOND) // n
    rank = max(1, -(-p * n // 100))
    return p, sorted(samples)[rank - 1], n - rank


def geomean_of_medians(samples_by_op: dict[str, list[float]]) -> float:
    """Geometric mean over distinct operations of each one's median, so a
    fast operation weighs as much as a slow one."""
    logs = [math.log(statistics.median(v)) for v in samples_by_op.values()]
    return math.exp(sum(logs) / len(logs))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, and children are clipped to the parent's interval).

    A span is a dict with ``id``, ``parent`` (an id or None), ``start``
    and ``end`` in seconds.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _canonical(v):
    """One value as the value-hash sees it: NULL and NaN alike, floats by
    bit pattern (so 0.0 and -0.0 differ), ints and floats as distinct
    classes, timestamps to the microsecond."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", v.hex())
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v.normalize()))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat(timespec="microseconds"))
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("seq", tuple(_canonical(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((repr(k), _canonical(x)) for k, x in v.items())))
    return ("str", str(v))


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    canonicalised and sorted, then sha256 over their repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        repr(tuple(_canonical(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def assign_batches(ids: list[int], n_batches: int, seed: int) -> list[list[int]]:
    """Split ``ids`` into ``n_batches`` ingest batches of near-equal size in
    a seeded random order; every id lands in exactly one batch."""
    order = sorted(ids)
    random.Random(seed).shuffle(order)
    return [order[b::n_batches] for b in range(n_batches)]
