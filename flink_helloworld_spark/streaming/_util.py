"""Partition sizing for the keyed stateful streaming operators."""

from __future__ import annotations

# measured c_row/c_fixed for the TWS gates on the 32-thread reference
# node (SCALE_NOTES r6/r7): the hand-found optima — 8 partitions at
# 1,250 input rows/trigger, 32 at 12,500 — solve n* = sqrt(rows·ratio)
# at 0.051 and 0.082 respectively; 0.05 sits at the CONSERVATIVE (1×)
# end so small batches are never over-split, and the validated 10×
# suggestion (25) still beat both hand settings. Re-calibrate per
# deployment as n²/rows from a measured optimum.
STATEFUL_COST_RATIO = 0.05


def suggest_stateful_partitions(
    rows_per_trigger: int,
    cost_ratio: float = STATEFUL_COST_RATIO,
    floor: int = 2,
    cap: int | None = None,
) -> int:
    """The SCALE_NOTES capacity rule as code: per micro-batch a stateful
    operator pays ``n·c_fixed`` (a state-store handshake + Python worker
    round PER PARTITION, regardless of rows) plus ``rows·c_row/n``
    (row work split across partitions) — minimized at
    ``n* = sqrt(rows_per_trigger · c_row/c_fixed)``.

    The square-root law reproduces both round-6 measurements that a
    linear rows/N rule cannot: 32 → 8 partitions sped the 1×-volume
    gates 1.6–2.4× (fixed cost dominated), while the SAME cut slowed
    the 10×-volume LSH run 61.9 → 100.4s (row work wanted the
    parallelism back). ``cost_ratio`` is the measured c_row/c_fixed for
    the TWS gates here; re-calibrate per deployment from two runs at
    different partition counts. ``floor`` keeps minimum state-store
    spread; ``cap`` bounds over-splitting (pass executor cores).

    Spark PINS the stateful partition count at the query's FIRST
    checkpoint — apply this (``apply_stateful_partitions``) BEFORE the
    first ``.start()`` against a fresh checkpoint; an existing
    checkpoint keeps its original count regardless.
    """
    import math

    n = max(floor, math.ceil(math.sqrt(max(0, rows_per_trigger) * cost_ratio)))
    return min(n, cap) if cap is not None else n


def apply_stateful_partitions(
    spark, rows_per_trigger: int | None, **kw
) -> int | None:
    """Set ``spark.sql.shuffle.partitions`` to the suggested stateful
    count and return it (``None`` rows_per_trigger is a no-op returning
    None, so job-builder call sites stay one unconditional line). The
    conf is the ONLY binding knob for a stateful streaming operator's
    partitioning (a ``repartition(n)`` upstream does not survive the
    stateful exchange), and only matters before the first checkpoint —
    call this before ``.start()`` of a NEW query. The conf is
    session-global: builders that .start() internally snapshot and
    restore it afterwards; builders that RETURN a writer cannot (the
    caller starts later), so there the setting deliberately persists
    until the caller restores it."""
    if rows_per_trigger is None:
        return None
    n = suggest_stateful_partitions(rows_per_trigger, **kw)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n

