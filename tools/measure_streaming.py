"""Throughput + state-size measurement for the streaming TWS gates
(VERDICT r5 item 4) — the numbers a 100 TB ingest capacity-plan needs.

For each of the five transformWithState fronts (LSH first-arrival
dedup, corpus->manifest, the composed 3-stage near-dup front, and the
single-band + banded embedding gates) this stages the sf0.1 documents
or embeddings table (and its 10x duplicate-density replica) as
multi-file parquet, runs the gate once with an availableNow trigger
split into several micro-batches, and reports:

- rows/s over trigger-execution time (startup excluded), i.e. the
  sustained per-batch throughput the gate holds once warm;
- state rows + state bytes from the state-store metrics of the FINAL
  progress event (the steady-state footprint after the whole volume
  has been claimed).

Usage: python tools/measure_streaming.py [--auto] [gate ...]
(default: all five, 1x then 10x each; --auto sizes the stateful
partition count per run via the sqrt capacity law instead of the
session default)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BIG = os.environ.get("SPARK_GRAFT_BIG_DIR", "/tmp/sf0.1-10x")
N_FILES = 8  # staged file count; maxFilesPerTrigger=2 => 4 micro-batches


def stage(src_dir: str, dst: str, table: str = "documents") -> int:
    """Split a source table into N_FILES row-slices with mtimes in
    slice order (the file-source admission order contract)."""
    cols = {
        "documents": ["doc_id", "text", "source"],
        "embeddings": ["vec_id", "embedding"],
        "events": ["event_type", "ts"],
    }[table]
    t = pq.read_table(f"{src_dir}/{table}.parquet").select(cols)
    os.makedirs(dst, exist_ok=True)
    n = t.num_rows
    step = (n + N_FILES - 1) // N_FILES
    now = time.time()
    for i in range(N_FILES):
        sl = t.slice(i * step, step)
        p = os.path.join(dst, f"part{i:03d}.parquet")
        pq.write_table(sl, p)
        os.utime(p, (now - 600 + i, now - 600 + i))
    return n


def _verified_sq_gate(spark, raw, in_dir: str):
    """Verified gate with int8-SQ owner state: per-dim stats trained
    offline on the staged table (one bounded stats-row collect)."""
    from flink_helloworld_spark.operators.similarity import sq_quantize
    from flink_helloworld_spark.streaming.tws import (
        streaming_embedding_dedup_verified,
    )

    emb = spark.read.schema("vec_id long, embedding array<float>").parquet(
        in_dir
    )
    stats = sq_quantize(emb).select("mn", "scale").first()
    return streaming_embedding_dedup_verified(
        raw,
        threshold=0.9,
        planes=8,
        bands=4,
        sq_mn=list(stats.mn),
        sq_scale=list(stats.scale),
    )


def _ivf_ingest_gate(spark, raw, in_dir: str):
    """Streaming IVF index maintenance: quantizer built ONCE (batch,
    frozen) from the staged table, then every arriving vector routed
    into posting lists. State = one MapState long per distinct posted
    member (the first-arrival commit ledger), linear in distinct
    ingest BY DESIGN — the artifact itself rides the emitted rows."""
    from flink_helloworld_spark.operators.similarity import build_ivf_index
    from flink_helloworld_spark.streaming.tws import streaming_ivf_ingest

    emb = spark.read.schema("vec_id long, embedding array<float>").parquet(
        in_dir
    )
    index, _ = build_ivf_index(emb)
    index = index.cache()
    index.count()
    return streaming_ivf_ingest(raw, index, n_super_probe=2)


def run_gate(spark, name: str, in_dir: str, rows_per_trigger: int | None = None):
    """Run one gate over the staged files. When ``rows_per_trigger`` is
    given, the stateful partition count is AUTO-SIZED by the sqrt
    capacity rule (streaming.apply_stateful_partitions) before the
    query's first start — the conf is pinned at the first checkpoint,
    which is fresh here."""
    from flink_helloworld_spark.streaming.tws import (
        streaming_corpus_manifest_tws,
        streaming_embedding_dedup,
        streaming_embedding_dedup_banded,
        streaming_embedding_dedup_verified,
        streaming_lsh_dedup,
        streaming_near_dedup_front,
    )

    if name.startswith("embedding_dedup") or name == "ivf_ingest":
        schema = "vec_id long, embedding array<float>"
    elif name == "rate_anomaly":
        schema = "event_type string, ts timestamp_ntz"
    else:
        schema = "doc_id long, text string, source string"
    from flink_helloworld_spark.streaming import apply_stateful_partitions

    auto_n = apply_stateful_partitions(spark, rows_per_trigger, cap=32)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(in_dir)
    )
    out = {
        "lsh_dedup": lambda: streaming_lsh_dedup(raw),
        "corpus_manifest": lambda: streaming_corpus_manifest_tws(raw),
        "near_dedup_front": lambda: streaming_near_dedup_front(raw, cap=1000),
        "embedding_dedup": lambda: streaming_embedding_dedup(raw),
        "embedding_dedup_banded": lambda: streaming_embedding_dedup_banded(
            raw, planes=8, bands=4
        ),
        "embedding_dedup_verified": lambda: streaming_embedding_dedup_verified(
            raw, threshold=0.9, planes=8, bands=4
        ),
        # owner state as int8 SQ codes (~dims bytes vs dims float64s);
        # stats trained OFFLINE on the staged table — the bounded
        # quantizer-training collect a production deploy ships with
        "embedding_dedup_verified_sq": lambda: _verified_sq_gate(
            spark, raw, in_dir
        ),
        # streaming IVF index maintenance: frozen-quantizer routing +
        # first-arrival posting commit (r9) — state is the member ledger
        "ivf_ingest": lambda: _ivf_ingest_gate(spark, raw, in_dir),
        # live EWMA spike monitor: O(taps) longs per key forever
        "rate_anomaly": lambda: __import__(
            "flink_helloworld_spark.streaming.tws", fromlist=["x"]
        ).streaming_rate_anomaly(raw, "event_type", "ts"),
        # sharded Misra-Gries over the source/domain column: bounded
        # counters per bucket regardless of volume
        "heavy_hitters": lambda: __import__(
            "flink_helloworld_spark.streaming.tws", fromlist=["x"]
        ).streaming_heavy_hitters(raw, "source", capacity=64, n_buckets=8),
        # per-source KMV distinct-content sketch: O(k) state per key
        "kmv_distinct": lambda: __import__(
            "flink_helloworld_spark.streaming.tws", fromlist=["x"]
        ).streaming_kmv_distinct(raw, "source", "text", k=64),
    }[name]()
    out_dir = tempfile.mkdtemp(prefix=f"ms-{name}-out-")
    ck = tempfile.mkdtemp(prefix=f"ms-{name}-ck-")
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1800)
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    rows_in = sum(p["numInputRows"] for p in progress)
    exec_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    # final non-empty state snapshot = steady-state footprint
    state_rows = state_bytes = 0
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            state_rows = sum(o.get("numRowsTotal", 0) for o in ops)
            state_bytes = sum(o.get("memoryUsedBytes", 0) for o in ops)
            break
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    return {
        "rows_in": rows_in,
        "exec_s": round(exec_ms / 1000.0, 2),
        "rows_per_s": round(rows_in / max(exec_ms / 1000.0, 1e-9)),
        "state_rows": state_rows,
        "state_mib": round(state_bytes / (1024 * 1024), 1),
        "n_batches": sum(1 for p in progress if p["numInputRows"] > 0),
        "partitions": auto_n,
    }


def main() -> None:
    from flink_helloworld_spark.session import build_session

    args = sys.argv[1:]
    auto = "--auto" in args  # sqrt-rule partition auto-sizing per run
    args = [a for a in args if a != "--auto"]
    gates = args or [
        "lsh_dedup",
        "corpus_manifest",
        "near_dedup_front",
        "embedding_dedup",
        "embedding_dedup_banded",
        "embedding_dedup_verified",
        "embedding_dedup_verified_sq",
    ]
    spark = build_session(app_name="fhs-stream-measure")
    for vol, src in (("1x", BASE), ("10x", BIG)):
        if not os.path.exists(f"{src}/documents.parquet"):
            print(f"[skip] {src} missing (build with tools/build_replica.py)")
            continue
        for g in gates:
            if g.startswith("embedding_dedup") or g == "ivf_ingest":
                table = "embeddings"
            elif g == "rate_anomaly":
                table = "events"
            else:
                table = "documents"
            staged = tempfile.mkdtemp(prefix=f"ms-in-{vol}-{table}-")
            n = stage(src, staged, table)
            rpt = (n + 3) // 4 if auto else None  # 8 files, 2/trigger
            r = run_gate(spark, g, staged, rows_per_trigger=rpt)
            pcol = f" | auto n={r['partitions']}" if auto else ""
            print(
                f"| {g} | {vol} ({n} rows) | {r['rows_per_s']}/s "
                f"({r['exec_s']}s, {r['n_batches']} batches) | "
                f"{r['state_rows']} | {r['state_mib']} MiB{pcol} |",
                flush=True,
            )
            shutil.rmtree(staged, ignore_errors=True)


if __name__ == "__main__":
    main()
