"""Event-time windowed aggregation + watermarks + late-data capture
(SURVEY.md §2.6 W4/W5/W8-W11).

Maps the reference's event-time machinery onto Structured Streaming:

- ``TumblingEventTimeWindows`` + watermark fire/drop rule
  (EventTimeTest.java:166-178: drop iff window.end ≤ watermark, fire iff
  window.end ≤ watermark) ↦ ``withWatermark`` + ``window()`` in append
  mode — same boundary rule (Spark emits a window once watermark ≥ end
  and drops later input for it).
- ``allowedLateness(d)`` (EventTimeTest.java:246-282) ↦ widen the
  watermark delay by d and aggregate in update mode: re-fires per
  late-but-in-grace row, like Flink's re-fire-per-late-element.
- ``sideOutputLateData`` (EventTimeTest.java:397-427) ↦ dual pipeline:
  the main aggregation plus a parallel per-row filter that captures rows
  arriving behind the (delayed) watermark — see ``late_rows_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_helloworld_spark.streaming.replay import WM_KEY
from flink_helloworld_spark.streaming.tws import each_record, fold_by_key


def tumbling_sum_stream(
    script_stream: DataFrame,
    size: str,
    delay: str = "0 milliseconds",
) -> DataFrame:
    """Keyed tumbling event-time sum over a scripted stream.

    Append mode = Flink's default fire-once-per-window; run with
    ``output_mode='update'`` and a widened ``delay`` for allowedLateness
    re-fire semantics (W10).

    NB: watermark-driver rows must be excluded via an AGGREGATED column
    (`_wm_rows`), not a plain predicate on `k`: a key predicate — even
    placed after the aggregation — is pushed below the EventTimeWatermark
    node by Catalyst (through the agg, through the watermark, into the
    scan), and the driver rows would never advance the watermark. A
    filter on an aggregate result cannot be pushed below the agg."""
    wm = script_stream.withWatermark("event_time", delay)
    return (
        wm.groupBy(F.window("event_time", size).alias("w"), "k")
        .agg(
            F.sum("v").alias("window_sum"),
            F.sum(F.when(F.col("k") == WM_KEY, 1).otherwise(0)).alias("_wm_rows"),
        )
        .where(F.col("_wm_rows") == 0)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "k",
            "window_sum",
        )
    )


def session_sum_stream(
    script_stream: DataFrame, gap: str, delay: str = "0 milliseconds"
) -> DataFrame:
    """Merging event-time session windows (W5) on a scripted stream.
    Watermark-driver rows excluded via aggregated `_wm_rows` (see
    ``tumbling_sum_stream`` — a key predicate would be pushed below the
    watermark node)."""
    wm = script_stream.withWatermark("event_time", delay)
    return (
        wm.groupBy(F.session_window("event_time", gap).alias("w"), "k")
        .agg(
            F.sum("v").alias("window_sum"),
            F.sum(F.when(F.col("k") == WM_KEY, 1).otherwise(0)).alias("_wm_rows"),
        )
        .where(F.col("_wm_rows") == 0)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "k",
            "window_sum",
        )
    )


def stream_stream_window_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str = "event_time",
    right_time: str = "event_time",
    delay: str = "0 milliseconds",
    range_ms: int = 5000,
    how: str = "inner",
) -> DataFrame:
    """Streaming equi-join within a time range (SURVEY §2.5 J2's true
    streaming form): both sides watermarked, joined on key + a bounded
    event-time range so Spark's symmetric hash join can evict state
    (unbounded-range stream joins would buffer forever).

    The reference's window join (a.join(b).where...window(Tumbling...),
    WindowTest.java:585-602) pairs rows in the same tumbling window; the
    range condition |t_l - t_r| < range is the generalization Flink
    calls an interval join (mentioned at WindowTest.java:565-566).

    ``how='leftOuter'`` emits unmatched left rows (right columns null)
    once the watermark proves no in-range right row can still arrive —
    the same eviction rule that bounds the join state drives the null
    emission, so the outer form costs nothing extra."""
    lw = left.withWatermark(left_time, delay).alias("l")
    rw = right.withWatermark(right_time, delay).alias("r")
    lt, rt = F.col(f"l.{left_time}"), F.col(f"r.{right_time}")
    return lw.join(
        rw,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rt >= lt - F.expr(f"INTERVAL {range_ms} MILLISECONDS"))
        & (rt <= lt + F.expr(f"INTERVAL {range_ms} MILLISECONDS")),
        how,
    )


LATE_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("v", LongType()),
        StructField("event_ts_ms", LongType()),
        StructField("is_late", BooleanType()),
    ]
)

_LATE_STATE = StructType([StructField("max_ts", LongType())])


def late_rows_stream(script_stream: DataFrame, window_ms: int, lateness_ms: int = 0) -> DataFrame:
    """Late-data side output (W11): re-implements the reference's
    per-element drop rule (EventTimeTest.java:166-178 — late iff
    window.end + allowedLateness ≤ current watermark) as a stateful
    per-row classifier; filter ``is_late`` for the side channel.

    The watermark here is tracked in state as the running max event time
    over watermark-driver rows (single synthetic key — the classifier is
    a global pass-through, parallelism 1 like Flink's watermark tracking;
    real pipelines use Spark's own per-partition watermark instead)."""

    def step(state, _, rec):
        if rec["k"] == WM_KEY:
            return (max(state[0], rec["event_ts_ms"]),), []
        w_end = (rec["event_ts_ms"] // window_ms + 1) * window_ms
        late = w_end + lateness_ms <= state[0]
        return state, [(rec["k"], rec["v"], rec["event_ts_ms"], late)]

    src = script_stream.select(F.lit(1).alias("g"), "k", "v", "event_ts_ms", "seq")
    return fold_by_key(
        src, "g", _LATE_STATE, (-1,), each_record("seq", step), LATE_SCHEMA
    )
