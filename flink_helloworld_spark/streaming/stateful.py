"""Per-event stateful count windows (SURVEY.md §4 custom work 1 & 3).

These reproduce the reference's *per-record emission* semantics that
Spark's update-mode aggregation only approximates per micro-batch (the
exact rolling sum, ``KeyedStream.sum``, is ``tws.rolling_sum_stream``):

- ``count_window_stream``: ``countWindow(n)`` (HelloWorldFlinkTest.java:98)
  — fire a sum every n rows per key; partials never fire.
- ``count_trigger_evictor_stream``: GlobalWindows + CountTrigger(every) +
  CountEvictor(keep) (WindowTest.java:84).

State per key is O(1) floats/counters (or O(keep) for the evictor) —
bounded by construction, RocksDB-backed, TTL-able.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd

from flink_helloworld_spark.streaming._util import concat_chunks
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def count_window_stream(
    df: DataFrame, key: str, value: str, seq_col: str, n: int
) -> DataFrame:
    """Keyed count window: every n-th row per key fires the sum of the
    last n values; partial windows never fire
    (HelloWorldFlinkTest.java:99-103)."""
    out_schema = StructType(
        [
            StructField(key, df.schema[key].dataType),
            StructField("bucket", LongType()),
            StructField("window_sum", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("cnt", LongType()), StructField("acc", DoubleType()), StructField("fired", LongType())]
    )

    def fn(k: Any, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        cnt, acc, fired = state.get if state.exists else (0, 0.0, 0)
        rows = []
        batch = concat_chunks(batches)
        if batch is not None:
            for rec in batch.sort_values(seq_col).to_dict("records"):
                cnt += 1
                acc = round(acc + rec[value], 9)
                if cnt == n:
                    rows.append({key: k[0], "bucket": fired, "window_sum": acc})
                    cnt, acc, fired = 0, 0.0, fired + 1
        state.update((cnt, acc, fired))
        yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(key, seq_col, value).groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def count_trigger_evictor_stream(
    df: DataFrame, key: str, value: str, seq_col: str, every: int = 2, keep: int = 5
) -> DataFrame:
    """GlobalWindows + CountTrigger(every) + CountEvictor(keep): on every
    `every`-th element per key, emit the sum of the trailing `keep`
    elements (WindowTest.java:84,181-186 — the evictor forces buffering,
    but only `keep` elements, so state stays O(keep))."""
    out_schema = StructType(
        [
            StructField(key, df.schema[key].dataType),
            StructField("fire_seq", LongType()),
            StructField("fired_sum", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("seen", LongType()), StructField("tail_json", StringType())]
    )

    def fn(k: Any, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        seen, tail_json = state.get if state.exists else (0, "[]")
        tail: list[float] = json.loads(tail_json)
        rows = []
        batch = concat_chunks(batches)
        if batch is not None:
            for rec in batch.sort_values(seq_col).to_dict("records"):
                seen += 1
                tail = (tail + [rec[value]])[-keep:]
                if seen % every == 0:
                    rows.append(
                        {key: k[0], "fire_seq": seen, "fired_sum": round(sum(tail), 9)}
                    )
        state.update((seen, json.dumps(tail)))
        yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(key, seq_col, value).groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
