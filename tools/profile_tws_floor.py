"""Attribute the TWS per-trigger fixed-cost floor (VERDICT r8 item 4).

Round 8 established the floor is (partitions x per-partition unit) and
that store provider / snapshot cadence barely move it; this tool
attributes the UNIT: Python worker launch vs state-store handshake vs
micro-batch machinery (planning/offset/commit), by running ONE minimal
TWS operator (streaming_kmv_distinct, single stateful stage) over 8
tiny triggers under config variants, and a stateless control with the
identical source/sink but no stateful operator.

Worker launches: Spark 4.1's transformWithState driver worker (the
pre-init one, the same for the Row and the pandas form) prints
"Starting Streaming TransformWithStateInPandas Python worker" when it
starts; the count of those lines is reported per variant.

Each variant runs in its own subprocess (spark.python.worker.reuse and
the state-store provider are executor-env/static confs). Output: one
JSON line per variant with median warm-trigger phase timings (ms) and
the worker-launch count.

Correction (2026-10-18): the Round 9 reading (SCALE_NOTES) that the
~434 ms unit is a state-store session cost and "NOT Python worker
launch" missed a per-task worker cost. Every Python task re-read Spark's
``pyspark.zip`` index about 12 times (``importlib.invalidate_caches()``
in ``setup_spark_files``, eager on Python 3.11), ~0.2 s a task whether
the worker was reused or not. ``session.build_session`` now forks
workers from ``flink_helloworld_spark._worker_daemon``, which skips that
re-read, so re-run this tool before reading its split as state-store
cost.

Usage: [TWSFLOOR_KEYS=n] python tools/profile_tws_floor.py [variant ...]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = 8
PARTITIONS = 4
# TWSFLOOR_KEYS splits the state_update term: if the per-trigger cost
# scales with distinct keys, the unit is per-key work (state round
# trips, the Python step); if flat, it is fixed per-partition TWS
# machinery. A trigger holds at least one row per key.
N_KEYS = int(os.environ.get("TWSFLOOR_KEYS", "4"))
ROWS_PER_FILE = max(40, N_KEYS)

VARIANTS = {
    # RocksDB + changelog checkpointing = the engine session default
    "default": {},
    # fresh Python process per task: the delta vs default bounds the
    # worker-LAUNCH share of the unit (if TWS never reuses workers,
    # this knob changes nothing)
    "reuse_off": {"spark.python.worker.reuse": "false"},
    # heap-backed store: no RocksDB open/compaction in the unit
    "hdfs_store": {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        )
    },
    # identical source/sink/trigger cadence, identical Arrow
    # projection work, NO stateful operator: the micro-batch
    # machinery + plain-pandas-worker floor
    "stateless": {},
}


def stage_input(dst: str) -> None:
    import pandas as pd

    t0 = time.time() - 600
    for i in range(N_FILES):
        pdf = pd.DataFrame(
            {
                "g": [f"g{j % N_KEYS}" for j in range(ROWS_PER_FILE)],
                "val": [
                    f"v{i}-{j}" for j in range(ROWS_PER_FILE)
                ],
            }
        )
        p = os.path.join(dst, f"f{i:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))


def run_variant(name: str) -> None:
    from flink_helloworld_spark.session import build_session

    extra = dict(VARIANTS[name])
    extra["spark.sql.shuffle.partitions"] = str(PARTITIONS)
    spark = build_session(
        app_name=f"tws-floor-{name}", extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    in_dir = tempfile.mkdtemp(prefix=f"twsfloor-{name}-in-")
    stage_input(in_dir)
    raw = (
        spark.readStream.schema("g string, val string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    if name == "stateless":
        from pyspark.sql import functions as F

        from flink_helloworld_spark.functions import md5_prefix_long

        # same projection the TWS path computes upstream, then an
        # Arrow mapInPandas stage so a Python worker runs per task -
        # but no state store and no TWS runner
        src = raw.select(
            F.col("g").alias("k"), md5_prefix_long(F.col("val")).alias("h")
        )

        def ident(batches):
            for pdf in batches:
                yield pdf

        out = src.mapInPandas(ident, "k string, h long")
    else:
        from flink_helloworld_spark.streaming.tws import (
            streaming_kmv_distinct,
        )

        out = streaming_kmv_distinct(raw, "g", "val", k=16)
    ck = tempfile.mkdtemp(prefix=f"twsfloor-{name}-ck-")
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    # warm triggers only: drop the first (session/store warmup)
    warm = [p for p in progress if p["numInputRows"] > 0][1:]

    def med(key: str) -> float:
        vals = sorted(p["durationMs"].get(key, 0) for p in warm)
        return float(vals[len(vals) // 2]) if vals else 0.0

    state_ms = {}
    for metric in ("allUpdatesTimeMs", "commitTimeMs"):
        vals = sorted(
            sum(o.get(metric, 0) for o in (p.get("stateOperators") or []))
            for p in warm
        )
        state_ms[metric] = float(vals[len(vals) // 2]) if vals else 0.0
    print(
        "RESULT "
        + json.dumps(
            {
                "variant": name,
                "n_warm_triggers": len(warm),
                "trigger_ms": med("triggerExecution"),
                "addBatch_ms": med("addBatch"),
                "queryPlanning_ms": med("queryPlanning"),
                "walCommit_ms": med("walCommit"),
                "commitOffsets_ms": med("commitOffsets"),
                "latestOffset_ms": med("latestOffset"),
                "state_update_ms": state_ms["allUpdatesTimeMs"],
                "state_commit_ms": state_ms["commitTimeMs"],
            }
        ),
        flush=True,
    )
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)


def main() -> None:
    names = sys.argv[1:] or list(VARIANTS)
    print(
        f"# {N_FILES} triggers x {ROWS_PER_FILE} rows, "
        f"{PARTITIONS} stateful partitions; median warm-trigger ms"
    )
    for name in names:
        r = subprocess.run(
            [sys.executable, __file__, "--child", name],
            capture_output=True,
            text=True,
            timeout=900,
        )
        launches = r.stdout.count(
            "Starting Streaming TransformWithStateInPandas Python worker"
        ) + r.stderr.count(
            "Starting Streaming TransformWithStateInPandas Python worker"
        )
        for line in r.stdout.splitlines():
            if line.startswith("RESULT "):
                d = json.loads(line[len("RESULT "):])
                d["tws_worker_launches"] = launches
                print(json.dumps(d), flush=True)
                break
        else:
            print(
                json.dumps({"variant": name, "error": r.stderr[-800:]}),
                flush=True,
            )


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        run_variant(sys.argv[2])
    else:
        main()
