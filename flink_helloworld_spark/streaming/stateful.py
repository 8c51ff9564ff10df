"""Per-event stateful count windows (SURVEY.md §4 custom work 1 & 3).

These reproduce the reference's *per-record emission* semantics that
Spark's update-mode aggregation only approximates per micro-batch (the
exact rolling sum, ``KeyedStream.sum``, is ``tws.rolling_sum_stream``):

- ``count_window_stream``: ``countWindow(n)`` (HelloWorldFlinkTest.java:98)
  — fire a sum every n rows per key; partials never fire.
- ``count_trigger_evictor_stream``: GlobalWindows + CountTrigger(every) +
  CountEvictor(keep) (WindowTest.java:84).

Both are step functions on the one keyed fold, ``tws.value_fold``
(transformWithState, typed ValueState). State per key is O(1)
floats/counters (or O(keep) for the evictor) — bounded by construction,
RocksDB-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from flink_helloworld_spark.streaming.tws import value_fold


def count_window_stream(
    df: DataFrame, key: str, value: str, seq_col: str, n: int
) -> DataFrame:
    """Keyed count window: every n-th row per key fires the sum of the
    last n values; partial windows never fire
    (HelloWorldFlinkTest.java:99-103)."""
    state_schema = StructType(
        [
            StructField("cnt", LongType()),
            StructField("acc", DoubleType()),
            StructField("fired", LongType()),
        ]
    )

    def step(state, k, rec):
        cnt, acc, fired = state
        cnt, acc = cnt + 1, round(acc + rec["v"], 9)
        if cnt < n:
            return (cnt, acc, fired), []
        return (0, 0.0, fired + 1), [(k, fired, acc)]

    out_fields = [
        StructField("bucket", LongType()),
        StructField("window_sum", DoubleType()),
    ]
    return value_fold(
        df, key, value, seq_col, state_schema, (0, 0.0, 0), step, out_fields
    )


def count_trigger_evictor_stream(
    df: DataFrame, key: str, value: str, seq_col: str, every: int = 2, keep: int = 5
) -> DataFrame:
    """GlobalWindows + CountTrigger(every) + CountEvictor(keep): on every
    `every`-th element per key, emit the sum of the trailing `keep`
    elements (WindowTest.java:84,181-186 — the evictor forces buffering,
    but only `keep` elements, so state stays O(keep))."""
    state_schema = StructType(
        [
            StructField("seen", LongType()),
            StructField("tail", ArrayType(DoubleType())),
        ]
    )

    def step(state, k, rec):
        seen, tail = state[0] + 1, [*state[1], rec["v"]][-keep:]
        fired = [(k, seen, round(sum(tail), 9))] if seen % every == 0 else []
        return (seen, tail), fired

    out_fields = [
        StructField("fire_seq", LongType()),
        StructField("fired_sum", DoubleType()),
    ]
    return value_fold(
        df, key, value, seq_col, state_schema, (0, []), step, out_fields
    )
