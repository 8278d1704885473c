"""Pure helpers: percentiles, the driver-gap interval union, and the
result fingerprint. No Spark session is needed except to evaluate the
fingerprint expression."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """The highest whole percentile that still leaves at least
    ``min_beyond`` of ``n`` samples above its rank (the rank convention
    of :func:`percentile`); None when fewer than ``min_beyond + 1``
    samples exist."""
    for p in range(99, 0, -1):
        if n - 1 - int((n - 1) * p / 100.0) >= min_beyond:
            return p
    return None


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """(value, percentile) of :func:`tail_percentile` over ``values``."""
    p = tail_percentile(len(values))
    if p is None:
        return None, None
    return percentile(values, p), p


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly-overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(
    wall: tuple[float, float], jobs: list[tuple[float, float]]
) -> float:
    """Seconds of ``wall`` during which no job ran: the wall minus the
    union of the job intervals clipped to it."""
    w0, w1 = wall
    clipped = [(max(s, w0), min(e, w1)) for s, e in jobs]
    return max(0.0, (w1 - w0) - interval_union(clipped))


def fingerprint_columns(df):
    """Spark aggregate columns ``(rows, hash_sum)``: the row count and the
    exact (decimal) sum of ``xxhash64`` over all columns. Both are
    independent of row order and partitioning."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)"))
        .cast("string")
        .alias("hash_sum"),
    ]


def fingerprint(df) -> tuple[int, str]:
    """Run the fingerprint aggregate over ``df`` (one Spark action)."""
    row = df.agg(*fingerprint_columns(df)).collect()[0]
    return int(row["rows"]), row["hash_sum"]

