"""Streaming workloads.

``topn_stream`` is an open loop: one feeder thread moves pre-written
parquet files of events into the job's input directory on a fixed
schedule, whatever the engine does, and each file's latency runs from
its scheduled time to the commit of the micro-batch that consumed it.
``lsh_gate_drain`` is a closed loop: a fixed backlog of documents is
drained through the LSH gate, one file per micro-batch.

Micro-batch phases and state sizes are read from ``recentProgress``;
the file-to-batch map and commit times from the query's checkpoint.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from check import mismatch

# topn_stream: 4 files a second of 250 events each, event time spread
# over the generator's 30 days; each event is moved by up to +-4 minutes,
# less than half the job's 10-minute watermark delay, so none is late
TOPN_PERIOD_S = 0.25
TOPN_EVENTS_PER_FILE = 250
TOPN_JITTER_US = 4 * 60 * 1_000_000
# the job sizes its stateful partitions for this many rows a micro-batch
TOPN_ROWS_PER_TRIGGER = 8 * TOPN_EVENTS_PER_FILE
# lsh_gate_drain: 4 files of 200 documents, one micro-batch each; the
# first, cold batch (query start, Python workers, JIT) primes the query
# and is reported apart, the other three are measured
LSH_FILES = 4
LSH_DOCS_PER_FILE = 200

PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def run(ctx, plant_op: str | None = None) -> dict:
    if ctx.workload == "topn_stream":
        return _topn(ctx, plant_op == "topn")
    return _lsh(ctx, plant_op == "verdicts")


# --- shared -----------------------------------------------------------------


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _start_s(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _progress_layer(ctx, progress: list[dict]) -> None:
    """mb.* phase medians and state.* from the measured batches, plus
    micro-batch -> phase spans laid end to end in execution order."""
    layer, tracer = ctx.layer, ctx.tracer
    for ph in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
        layer[f"mb.{ph}_ms"] = statistics.median(p["durationMs"].get(ph, 0) for p in progress)
    last = progress[-1].get("stateOperators", [])
    layer["state.rows"] = sum(op.get("numRowsTotal", 0) for op in last)
    layer["state.mib"] = sum(op.get("memoryUsedBytes", 0) for op in last) / 2**20
    layer["state.commit_ms"] = statistics.median(
        sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", [])) for p in progress
    )
    for p in progress:
        start = _start_s(p)
        mb = tracer.add("microbatch", start, start + p["durationMs"]["triggerExecution"] / 1e3,
                        tracer.current, batch=p["batchId"], rows=p["numInputRows"])
        t = start
        for ph in PHASES:
            ms = p["durationMs"].get(ph, 0)
            tracer.add(f"mb.{ph}", t, t + ms / 1e3, mb)
            t += ms / 1e3


def _batch_cpu_ms(ctx, progress: list[dict]) -> list[float]:
    """CPU milliseconds the process tree used during each micro-batch's
    trigger, from the run's CPU samples."""
    out = []
    for p in progress:
        start = _start_s(p)
        end = start + p["durationMs"]["triggerExecution"] / 1e3
        out.append((ctx.sampler.cpu_at(end) - ctx.sampler.cpu_at(start)) * 1e3)
    return out


def _stage(table: pa.Table, path: str, mtime: float | None = None) -> None:
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _dir_mib(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 2**20


# --- topn_stream --------------------------------------------------------------


def _topn_events(seed: int, n_files: int) -> list[pa.Table]:
    """``n_files`` event-time-ordered slices of seeded events, each moved
    by a bounded jitter."""
    n = n_files * TOPN_EVENTS_PER_FILE
    ev = gen.events(seed, gen.Scale(events=n, users=max(1, n // 66)))
    rng = np.random.default_rng([seed, 17])
    ts = ev["ts"].cast(pa.int64()).to_numpy() + rng.integers(-TOPN_JITTER_US, TOPN_JITTER_US, n)
    ev = ev.select(["event_id", "event_type"]).append_column(
        "ts", pa.array(ts, pa.timestamp("us", tz="UTC"))
    )
    return [ev.slice(i * TOPN_EVENTS_PER_FILE, TOPN_EVENTS_PER_FILE) for i in range(n_files)]


def _log_entries(path: str) -> list[str]:
    """Numbered entries of a checkpoint log dir (skips .crc files)."""
    return [n for n in os.listdir(path) if n.split(".")[0].isdigit()]


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. The file
    source's own log numbers its entries independently of the query's
    batches; the offset log says up to which source entry each
    micro-batch read."""
    source_log = os.path.join(checkpoint, "sources", "0")
    entry_of: dict[str, int] = {}
    for name in _log_entries(source_log):
        with open(os.path.join(source_log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    entry_of.setdefault(os.path.basename(e["path"]), e["batchId"])
    read_to = []
    offsets = os.path.join(checkpoint, "offsets")
    for name in _log_entries(offsets):
        with open(os.path.join(offsets, name)) as f:
            last = f.read().strip().splitlines()[-1]
        read_to.append((json.loads(last)["logOffset"], int(name)))
    read_to.sort()
    out = {}
    for path, entry in entry_of.items():
        hits = [b for upto, b in read_to if upto >= entry]
        if hits:
            out[path] = min(hits)
    return out


def _topn(ctx, plant: bool) -> dict:
    from flink_helloworld_spark.streaming import jobs

    tracer = ctx.tracer
    n_feed = max(4, int(ctx.seconds / TOPN_PERIOD_S))
    staged = os.path.join(ctx.work, "staged")
    indir = os.path.join(ctx.work, "in")
    state: dict = {}

    def prepare(k: int) -> None:
        os.makedirs(staged, exist_ok=True)
        with tracer.span("generate"):
            files = _topn_events(ctx.seed, n_feed + 1)
            for i, t in enumerate(files):
                _stage(t, os.path.join(staged, f"f{i:05d}.parquet"))
        with tracer.span("sources.load"):
            ctx.spark.read.parquet(staged).count()
        state["rows"] = sum(t.num_rows for t in files)

    setup_s = ctx.setup(prepare)
    spark = ctx.spark
    os.makedirs(indir)
    checkpoint = os.path.join(ctx.work, "checkpoint")
    sink_dir = os.path.join(ctx.work, "sink")
    raw = spark.readStream.schema("event_id long, event_type string, ts timestamp").parquet(indir)

    # with tracing on, each upsert is wrapped in a span that records the
    # shards it rewrote; the wrapper's own bookkeeping is the only
    # tracing work inside the measured region, and is timed
    shards: list[tuple[int, int]] = []
    bookkeeping_s = [0.0]
    original_call = jobs.KeyedUpsertSink.__call__

    def traced_call(sink, df, batch_id):
        t0 = time.time()
        original_call(sink, df, batch_id)
        t1 = time.time()
        tracer.add("sink.upsert", t0, t1, None, batch=batch_id,
                   shards=len(sink.last_touched_shards))
        shards.append((batch_id, len(sink.last_touched_shards)))
        bookkeeping_s[0] += time.time() - t1

    if ctx.trace:
        jobs.KeyedUpsertSink.__call__ = traced_call
    try:
        with tracer.span("prime"):
            agg_sink, topn_sink, query = jobs.streaming_window_topn_job(
                raw, sink_dir, checkpoint, rows_per_trigger=TOPN_ROWS_PER_TRIGGER
            )
            os.rename(os.path.join(staged, "f00000.parquet"), os.path.join(indir, "f00000.parquet"))
            query.processAllAvailable()
        primed = query.lastProgress["batchId"]

        due: dict[str, float] = {}
        late: list[float] = []

        def feed(t0: float) -> None:
            for i in range(1, n_feed + 1):
                name = f"f{i:05d}.parquet"
                at = t0 + (i - 1) * TOPN_PERIOD_S
                time.sleep(max(0.0, at - time.time()))
                os.rename(os.path.join(staged, name), os.path.join(indir, name))
                due[name] = at
                late.append(time.time() - at)

        t0 = time.time() + 0.2
        with tracer.span("feed"):
            feeder = threading.Thread(target=feed, args=(t0,))
            feeder.start()
            feeder.join()
            feed_end = time.time()
            query.processAllAvailable()
        progress = [p for p in _progress(query) if p["numInputRows"] > 0 and p["batchId"] > primed]
        query.stop()
    finally:
        jobs.KeyedUpsertSink.__call__ = original_call

    batch_of = _file_batches(checkpoint)
    commit_at = {
        int(b): os.path.getmtime(os.path.join(checkpoint, "commits", b))
        for b in _log_entries(os.path.join(checkpoint, "commits"))
    }
    latency = {f: commit_at[batch_of[f]] - at for f, at in due.items()
               if f in batch_of and batch_of[f] in commit_at}
    failed = len(due) - len(latency)
    rows_due = TOPN_EVENTS_PER_FILE * len(due)
    rows_in_time = TOPN_EVENTS_PER_FILE * sum(
        1 for f in latency if commit_at[batch_of[f]] <= feed_end
    )
    lat_ms = sorted(v * 1e3 for v in latency.values())

    # the final Top-N table against DuckDB over every file fed
    with tracer.span("check"):
        got = topn_sink.read(spark).selectExpr(
            "CAST(unix_micros(window_start) DIV 86400000000 AS BIGINT) AS day",
            "CAST(rank AS BIGINT) AS rank", "key", "CAST(cnt AS BIGINT) AS cnt",
        ).toPandas()
        if plant:
            got = got.iloc[1:]
        want = _duckdb(f"""
            WITH c AS (
              SELECT epoch_us(ts) // 86400000000 AS day, event_type AS key,
                     count(*) AS cnt
              FROM read_parquet('{indir}/*.parquet') GROUP BY ALL),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY day ORDER BY cnt DESC, key) AS rank FROM c)
            SELECT day, rank, key, cnt FROM r WHERE rank <= 3""")
        bad = mismatch(got, want)
    errors = [f"topn: {bad}"] if bad else []
    failed += 1 if bad else 0

    if ctx.trace:
        _progress_layer(ctx, progress)
        ctx.layer["sink.shards_rewritten"] = statistics.median(
            sum(n for b, n in shards if b == batch) for batch in {b for b, _ in shards}
        ) if shards else 0.0
        ctx.layer["sink.index_mib"] = _dir_mib(sink_dir)
        ctx.layer["feeder.late_ms_max"] = max(late) * 1e3
        # a file waits for at most two micro-batches' upserts
        per_batch_s = bookkeeping_s[0] / max(1, len({b for b, _ in shards}))
        ctx.layer["trace.overhead_latency_ms"] = 2 * per_batch_s * 1e3
    p50 = statistics.median(lat_ms)
    cpu_ms = _batch_cpu_ms(ctx, progress)
    return {
        "attempted": len(due) + 1,
        "failed": failed,
        "errors": errors,
        "metrics": {
            "setup_s": setup_s,
            "cpu_ms": statistics.geometric_mean(cpu_ms),
            "cpu_s": sum(cpu_ms) / 1e3,
        },
        "report": {
            "seed": ctx.seed,
            "input_rows": {"events": state["rows"]},
            "files": len(due),
            "batches": len(progress),
            "latency_ms": statistics.geometric_mean(lat_ms),
            "total_s": sum(lat_ms) / 1e3,
            "event_latency_p50_ms": round(p50, 1),
            "event_latency_p90_ms": round(lat_ms[int(0.9 * (len(lat_ms) - 1))], 1),
            "stream_committed_frac": round(rows_in_time / rows_due, 4),
            "feeder_late_ms_max": round(max(late) * 1e3, 2),
        },
    }


def _duckdb(sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        return con.sql(sql).df()
    finally:
        con.close()


# --- lsh_gate_drain -------------------------------------------------------------


def _lsh(ctx, plant: bool) -> dict:
    from flink_helloworld_spark.operators.dedup import lsh_first_arrival
    from flink_helloworld_spark.streaming._util import apply_stateful_partitions
    from flink_helloworld_spark.streaming.tws import streaming_lsh_dedup

    tracer = ctx.tracer
    n_docs = LSH_FILES * LSH_DOCS_PER_FILE
    indir = os.path.join(ctx.work, "in")
    state: dict = {}

    def prepare(k: int) -> None:
        os.makedirs(indir, exist_ok=True)
        with tracer.span("generate"):
            docs = gen.documents(ctx.seed, gen.Scale(documents=n_docs)).select(["doc_id", "text"])
            # in doc_id order, oldest file first: first arrival = lowest id
            base = time.time() - 600
            for i in range(LSH_FILES):
                part = docs.slice(i * LSH_DOCS_PER_FILE, LSH_DOCS_PER_FILE)
                _stage(part, os.path.join(indir, f"d{i:03d}.parquet"), base + i)
        with tracer.span("sources.load"):
            ctx.spark.read.parquet(indir).count()
        state["docs"] = docs

    setup_s = ctx.setup(prepare)
    spark = ctx.spark
    docs = state["docs"]
    with tracer.span("drain"):
        apply_stateful_partitions(spark, LSH_DOCS_PER_FILE)
        raw = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(indir)
        )
        query = (
            streaming_lsh_dedup(raw).writeStream.format("memory")
            .queryName("lsh_verdicts").outputMode("append")
            .option("checkpointLocation", os.path.join(ctx.work, "checkpoint"))
            .trigger(availableNow=True).start()
        )
        if not query.awaitTermination(150):
            query.stop()
            raise TimeoutError("lsh_gate_drain did not drain its backlog in 150 s")
    progress = [p for p in _progress(query) if p["numInputRows"] > 0]

    with tracer.span("check"):
        got = {r.doc_id: (r.n_bands, r.n_first, r.kept)
               for r in spark.table("lsh_verdicts").collect()}
        if plant:
            got.pop(min(got), None)
        want = {r.doc_id: (r.n_bands, r.n_first, r.kept)
                for r in lsh_first_arrival(spark.createDataFrame(docs.to_pandas())).collect()}
    failed = sum(1 for d, v in want.items() if got.get(d) != v)
    errors = [f"verdicts: {failed} of {len(want)} documents differ from lsh_first_arrival"] if failed else []

    trigger_ms = [p["durationMs"]["triggerExecution"] for p in progress]
    warm, warm_ms = progress[1:], trigger_ms[1:]
    cpu_ms = _batch_cpu_ms(ctx, warm)
    drain_s = _start_s(warm[-1]) + warm_ms[-1] / 1e3 - _start_s(warm[0])
    if ctx.trace:
        _progress_layer(ctx, warm)
    return {
        "attempted": len(want),
        "failed": failed,
        "errors": errors,
        "metrics": {
            "setup_s": setup_s,
            "cpu_ms": statistics.geometric_mean(cpu_ms),
            "cpu_s": sum(cpu_ms) / 1e3,
        },
        "report": {
            "seed": ctx.seed,
            "input_rows": {"documents": n_docs},
            "batches": len(progress),
            "latency_ms": statistics.geometric_mean(warm_ms),
            "total_s": sum(warm_ms) / 1e3,
            "microbatch_cpu_ms": [round(v) for v in cpu_ms],
            "kept": sum(1 for v in got.values() if v[2]),
            "drain_rows_per_s": round(LSH_DOCS_PER_FILE * len(warm) / drain_s, 2),
            "microbatch_p50_ms": statistics.median(warm_ms),
            "microbatch_ms": trigger_ms,
        },
    }
