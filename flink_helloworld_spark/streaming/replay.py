"""Scripted event-time replay harness (SURVEY.md §5, FIXTURES.md §4).

The reference pins watermark semantics with hand-scripted
(value, timestamp, watermark) sequences (`ctx.collectWithTimestamp` +
`ctx.emitWatermark`, EventTimeTest.java:187-210 etc.). Spark has no
explicit watermark API — the watermark is ``max(event_time) - delay``,
advanced between micro-batches. This harness reproduces the scripts:

- each script step becomes its own parquet file; the stream reads with
  ``maxFilesPerTrigger=1`` so every step is one micro-batch and the
  watermark advances exactly between steps, like Flink's per-element
  watermark emission;
- an explicit ``emitWatermark(w)`` becomes a *watermark-driver row* with
  key ``WM_KEY`` and event time = w: it drags ``max(event_time)`` to w
  and is filtered out after ``withWatermark`` (watermark tracking sits at
  the source, before filters, so the driver row still advances it).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WM_KEY = "__wm__"

SCRIPT_SCHEMA = "k string, v long, event_ts_ms long, seq long"


@dataclass(frozen=True)
class Step:
    """One scripted arrival: value `v` for key `k` at event-time
    `event_ts_ms`; `watermark_ms` > 0 emits a watermark afterwards."""

    k: str
    v: int
    event_ts_ms: int
    watermark_ms: int = -1


def write_script(steps: list[Step], workdir: str, wm_offset: int = 1) -> None:
    """Materialize one parquet file per micro-batch step (data row, then
    optionally its watermark-driver row), with strictly increasing mtimes
    so the file source replays them in order.

    ``wm_offset`` is added to each scripted watermark when emitting the
    driver row. Default 1 = the Flink→Spark boundary translation (see
    below). Scripts whose data rows OUTPACE the scripted watermark (Flink
    bounded out-of-orderness: watermark may lag max event time
    arbitrarily) need the standard Spark mapping — run the aggregation
    with ``delay = max_out_of_orderness + allowed_lateness`` and pass
    ``wm_offset = delay - allowed_lateness + 1`` so driver rows place the
    Spark watermark (max_ts - delay) exactly at the Flink drop boundary
    (flink_wm + 1 - lateness)."""
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    t0 = time.time() - len(steps) * 4  # strictly increasing mtimes
    idx = 0

    def emit(rows: list[dict]) -> None:
        nonlocal idx
        path = os.path.join(workdir, f"step-{idx:04d}.parquet")
        pd.DataFrame(rows).to_parquet(path, index=False)
        os.utime(path, (t0 + idx, t0 + idx))
        idx += 1

    seq = 0
    last_wm = -1
    max_ts = 0
    for s in steps:
        emit([{"k": s.k, "v": s.v, "event_ts_ms": s.event_ts_ms, "seq": seq}])
        max_ts = max(max_ts, s.event_ts_ms)
        seq += 1
        if s.watermark_ms > 0:
            # +1 ms: Flink's window maxTimestamp is end-1 (fire/drop at
            # watermark ≥ end-1); Spark fires/drops at watermark ≥ end.
            # A Flink watermark w therefore corresponds to a Spark
            # watermark w+1 for identical boundary decisions.
            # The driver row is emitted TWICE (two micro-batches): Spark
            # applies the watermark computed from batch N at batch N+2
            # (updated at commit, applied at next planning), so a spacer
            # batch makes the new watermark visible to the next data row
            # — matching Flink's "watermark applies to all subsequent
            # elements".
            for _ in range(2):
                emit([{"k": WM_KEY, "v": 0, "event_ts_ms": s.watermark_ms + wm_offset, "seq": seq}])
                seq += 1
            last_wm = max(last_wm, s.watermark_ms + wm_offset)
    if last_wm > 0:
        # end-of-input flush: Flink's bounded sources emit a final
        # Long.MAX_VALUE watermark that fires every remaining window.
        # Emulate with a far-future driver row; three copies because the
        # watermark computed from batch N is applied at batch N+2.
        flush_ts = max(max_ts, last_wm) + 10_000_000_000
        for _ in range(3):
            emit([{"k": WM_KEY, "v": 0, "event_ts_ms": flush_ts, "seq": seq}])
            seq += 1


def write_batch_files(
    rows_per_file: list[list[dict]],
    workdir: str,
    dtypes: dict | None = None,
) -> None:
    """Canonical micro-batch file writer for replay tests: one parquet
    per batch with strictly increasing mtimes so ``maxFilesPerTrigger=1``
    replays them in order. ``dtypes`` pins pandas column types (e.g.
    ``{"amount": "Int64"}`` so None-bearing ints stay INT64, or
    ``{"ts": "datetime64[us]"}`` so timestamps don't become ns/LONG).
    The scattered inline copies of this pattern in tests should migrate
    here — an mtime-granularity fix must land in ONE place."""
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    t0 = time.time() - len(rows_per_file) * 4
    for i, rows in enumerate(rows_per_file):
        path = os.path.join(workdir, f"f{i:04d}.parquet")
        pdf = pd.DataFrame(rows)
        if dtypes:
            pdf = pdf.astype(dtypes)
        pdf.to_parquet(path, index=False)
        os.utime(path, (t0 + i, t0 + i))


def read_script_stream(spark: SparkSession, workdir: str) -> DataFrame:
    """Streaming scan of a written script: one file per micro-batch, an
    ``event_time`` TimestampType column ready for ``withWatermark``."""
    return (
        spark.readStream.schema(SCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
        .withColumn("event_time", F.timestamp_millis(F.col("event_ts_ms")))
    )


def run_available_now(stream: DataFrame, query_name: str, output_mode: str = "append"):
    """Run a streaming DataFrame to completion on the available script
    files (one batch per file) into an in-memory table; returns rows.
    Raises on timeout instead of silently returning a truncated table —
    a partial result set would fail (or worse, pass) downstream
    assertions confusingly."""
    spark = stream.sparkSession
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            f"streaming replay '{query_name}' did not finish within 300s"
        )
    return spark.sql(f"SELECT * FROM {query_name}").collect()
