"""Summary statistics and the content digest the benchmark checks with.

Everything here is a pure function of its inputs so the unit tests in
``perfbench/tests`` can pin it without a running workload.
"""

from __future__ import annotations

import math
import statistics

# Percentiles the benchmark may quote for a timing, highest first. A
# percentile is only quoted when at least ``MIN_TAIL`` samples lie beyond
# it; otherwise the next lower one is used (the median always qualifies).
PERCENTILE_LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)
MIN_TAIL = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method).

    ``p`` is in [0, 100]. Raises ``ValueError`` on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile must be in [0, 100], got {p}")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int) -> float:
    """Highest ladder percentile with at least ``MIN_TAIL`` of ``n``
    samples beyond it; the median when none qualifies."""
    for p in PERCENTILE_LADDER:
        # the epsilon absorbs float error in e.g. 100 * (100 - 90) / 100
        if n * (100.0 - p) / 100.0 + 1e-9 >= MIN_TAIL:
            return p
    return 50.0


def summarize(values: list[float]) -> dict[str, float]:
    """Median, quartiles, the highest supported tail percentile and the
    sample count. Quartiles follow ``statistics.quantiles(n=4)``; with a
    single sample all of them equal that sample."""
    if not values:
        raise ValueError("summary of an empty sample")
    n = len(values)
    if n == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    tail = supported_percentile(n)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "tail_p": tail, "tail": percentile(values, tail), "n": n}


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def digest_aggs():
    """Aggregate expressions giving a frame's live-row count and an
    order-independent content digest: the exact sum of ``xxhash64`` over
    the final columns, summed as a 38-digit decimal so it cannot
    overflow. Equal multisets of rows give equal digests whatever their
    order or partitioning."""
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).alias("rows"),
            F.sum(row_hash()).alias("digest")]


def row_hash():
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.oracle import FINAL_COLS

    return F.xxhash64(*FINAL_COLS).cast("decimal(38,0)")


def payload_bytes():
    """Logical bytes of one live row: string columns at their UTF-8
    length, the integer key and the timestamp at 8 bytes each."""
    from pyspark.sql import functions as F

    return (F.octet_length("conv_id") + F.lit(16)
            + F.coalesce(F.octet_length("role"), F.lit(0))
            + F.coalesce(F.octet_length("text"), F.lit(0))
            + F.coalesce(F.octet_length("tool"), F.lit(0))).cast("long")


def table_digest(df) -> tuple[int, int]:
    """(live rows, content digest) of a frame holding the final columns."""
    row = df.agg(*digest_aggs()).collect()[0]
    return int(row["rows"]), int(row["digest"] or 0)
