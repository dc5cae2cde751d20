"""Pure helpers of the benchmark: the tail-percentile rule, the steal
correction of wall time, the union of stage spans behind the driver gap,
and the order-insensitive result digest.
"""

from __future__ import annotations

import hashlib
import statistics

import pandas as pd

# A tail percentile is reported only with this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(samples) -> dict:
    """The highest percentile of ``samples`` with at least TAIL_MIN_BEYOND
    samples strictly above it: its value, the percentile and that count.

    With no more than TAIL_MIN_BEYOND samples no percentile qualifies; the
    maximum is returned with ``beyond`` 0 so the shortfall is on record.
    """
    xs = sorted(samples)
    if not xs:
        raise ValueError("tail of no samples")
    n = len(xs)
    k = n - TAIL_MIN_BEYOND - 1
    while k >= 0 and sum(x > xs[k] for x in xs) < TAIL_MIN_BEYOND:
        k -= 1  # ties at xs[k] leave fewer than the minimum above it
    if k < 0:
        return {"value": xs[-1], "percentile": 100.0, "beyond": 0, "n": n}
    return {"value": xs[k], "percentile": 100.0 * (k + 1) / n,
            "beyond": sum(x > xs[k] for x in xs), "n": n}


def unstolen(seconds: float, ticks0, ticks1) -> float:
    """``seconds`` of wall time less the share the hypervisor stole, from
    two readings of /proc/stat's first line (user nice system idle iowait
    irq softirq steal). Steal accrues only to a CPU that has work to run,
    so the share lost is steal / (busy + steal), not steal / all ticks."""
    ticks = [b - a for a, b in zip(ticks0, ticks1)]
    busy = sum(ticks[i] for i in (0, 1, 2, 5, 6))
    if busy + ticks[7] == 0:
        return seconds
    return seconds * busy / (busy + ticks[7])


def union_length(spans, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` spans clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in spans)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    sorted canonical rows of tests/parity_util (floats by repr, datetimes
    by isoformat), so two engines agree exactly when their rows do."""
    from tests.parity_util import canonical_rows

    h = hashlib.sha256()
    h.update(repr(sorted(pdf.columns)).encode())
    for row in canonical_rows(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()
