"""End-to-end streaming ETL job + streaming dedup."""

from __future__ import annotations

import os
import tempfile
import time

import pandas as pd
from pyspark.sql import functions as F

from flink_helloworld_spark.streaming.jobs import streaming_dedup_exact, waybill_etl_job
from flink_helloworld_spark.streaming.replay import run_available_now


def test_waybill_etl_job_end_to_end(spark):
    sink, query = waybill_etl_job(
        spark,
        tempfile.mkdtemp(prefix="etl-sink-"),
        tempfile.mkdtemp(prefix="etl-ck-"),
        rows_per_second=200,
    )
    try:
        # poll until the sink has committed enough rows (fixed sleeps
        # flake under load: the first micro-batch can outlast them)
        deadline = time.time() + 90
        n = 0
        while time.time() < deadline and n <= 50:
            time.sleep(2)
            try:
                n = sink.read(spark).count()
            except Exception:  # no committed batch yet
                n = 0
    finally:
        query.stop()
        query.awaitTermination(60)
    out = sink.read(spark)
    rows = out.collect()
    assert len(rows) > 50  # generator produced and sink upserted
    one = rows[0]
    assert one.waybill_code.startswith("JD") and len(one.waybill_code) == 12
    assert one.sign_len == 30
    # keyed upsert: exactly one row per waybill_code
    assert out.groupBy("waybill_code").count().where("count > 1").count() == 0


def test_streaming_dedup_within_watermark(spark):
    workdir = tempfile.mkdtemp(prefix="sdedup-")
    t0 = time.time() - 60
    batches = [
        [("k1", 1000, "a"), ("k2", 1500, "b")],
        [("k1", 2000, "a-dup"), ("k3", 2500, "c")],   # k1 duplicate arrives
        [("k1", 3000, "a-dup2"), ("k4", 3500, "d")],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["k", "ts_ms", "payload"])
        p = os.path.join(workdir, f"b{i:02d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    raw = (
        spark.readStream.schema("k string, ts_ms long, payload string")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
        .withColumn("event_time", F.timestamp_millis("ts_ms"))
    )
    deduped = streaming_dedup_exact(raw, ["k"], time_col="event_time", delay="1 hour")
    rows = run_available_now(deduped.select("k", "payload"), "sdedup")
    got = {r.k: r.payload for r in rows}
    assert got == {"k1": "a", "k2": "b", "k3": "c", "k4": "d"}  # first wins


def test_streaming_wordcount_update_mode(spark):
    """The reference hello-world (HelloWorldFlinkTest.java:39-49) as a
    real streaming query: lines stream in, per-word counts update per
    micro-batch (rolling-sum emission ≈ Flink's per-record sum)."""
    import pandas as pd

    from flink_helloworld_spark.operators.relational import word_count
    from flink_helloworld_spark.streaming.replay import run_available_now

    workdir = tempfile.mkdtemp(prefix="wc-stream-")
    t0 = time.time() - 60
    batches = [["to be or not to be"], ["that is the question"], ["to be sure"]]
    for i, lines in enumerate(batches):
        p = os.path.join(workdir, f"b{i:02d}.parquet")
        pd.DataFrame({"text": lines}).to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    rows = run_available_now(word_count(stream), "wc_stream", output_mode="update")
    # update mode re-emits growing counts; final per word = max emission
    final = {}
    for r in rows:
        final[r.word] = max(final.get(r.word, 0), r.cnt)
    assert final["to"] == 3 and final["be"] == 3 and final["question"] == 1


def test_streaming_window_topn_overtake(spark):
    """Continuous Top-N must rank against the FULL aggregate state, not
    the micro-batch: key c overtakes a in a later batch that carries only
    c's update row."""
    import tempfile

    from flink_helloworld_spark.streaming.jobs import streaming_window_topn_job

    workdir = tempfile.mkdtemp(prefix="topn-in-")
    t0 = time.time() - 60
    day = 1704067200000  # 2024-01-01 00:00:00 UTC, ms
    h = 3600 * 1000
    batches = [
        [("a", day), ("a", day + h), ("a", day + 2 * h), ("b", day), ("b", day + h)],
        [("c", day + 3 * h), ("c", day + 4 * h)],
        [("c", day + 5 * h), ("c", day + 6 * h)],
    ]
    for i, rows in enumerate(batches):
        p = os.path.join(workdir, f"b{i:02d}.parquet")
        pd.DataFrame(rows, columns=["event_type", "ts_ms"]).to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("event_type string, ts_ms long")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
        .withColumn("ts", F.timestamp_millis("ts_ms"))
    )
    agg_sink, topn_sink, query = streaming_window_topn_job(
        stream,
        tempfile.mkdtemp(prefix="topn-sink-"),
        tempfile.mkdtemp(prefix="topn-ck-"),
        n=2,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        query.awaitTermination(60)
    top = {r.rank: (r.key, r.cnt) for r in topn_sink.read(spark).collect()}
    # c (4) overtook a (3); b (2) fell out of the top 2
    assert top == {1: ("c", 4), 2: ("a", 3)}
    aggs = {r.key: r.cnt for r in agg_sink.read(spark).collect()}
    assert aggs == {"a": 3, "b": 2, "c": 4}


def test_streaming_window_topn_tie_overtake_prefers_fresh_ranking(spark):
    """Review regression: when a new key TIES the current occupant's
    count at a rank slot, the freshest ranking must win the slot (order
    by batch recency, not cnt) — otherwise the stale row survives the
    upsert, one key occupies two slots, and the tying key vanishes."""
    import tempfile

    from flink_helloworld_spark.streaming.jobs import streaming_window_topn_job

    workdir = tempfile.mkdtemp(prefix="topn-tie-")
    t0 = time.time() - 60
    day = 1704067200000
    h = 3600 * 1000
    batches = [
        [("b", day), ("b", day + h), ("b", day + 2 * h)],
        # aa reaches the SAME count (3); tiebreak key-asc ranks aa first
        [("aa", day + 3 * h), ("aa", day + 4 * h), ("aa", day + 5 * h)],
    ]
    for i, rows in enumerate(batches):
        p = os.path.join(workdir, f"b{i:02d}.parquet")
        pd.DataFrame(rows, columns=["event_type", "ts_ms"]).to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("event_type string, ts_ms long")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
        .withColumn("ts", F.timestamp_millis("ts_ms"))
    )
    agg_sink, topn_sink, query = streaming_window_topn_job(
        stream,
        tempfile.mkdtemp(prefix="topn-tie-sink-"),
        tempfile.mkdtemp(prefix="topn-tie-ck-"),
        n=2,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        query.awaitTermination(60)
    top = {r.rank: (r.key, r.cnt) for r in topn_sink.read(spark).collect()}
    assert top == {1: ("aa", 3), 2: ("b", 3)}


def test_streaming_kmv_matches_batch_recompute(spark):
    """Cross-batch sketch mergeability: the streaming KMV state after N
    batches must equal the batch operator recomputed over ALL rows —
    bit-identical kth_min and estimate, not approximately."""
    from flink_helloworld_spark.operators.rollups import kmv_distinct
    from flink_helloworld_spark.streaming.tws import streaming_kmv_distinct

    workdir = tempfile.mkdtemp(prefix="kmv-stream-")
    batches = [
        [("click", f"u{i}") for i in range(0, 40)],
        [("click", f"u{i}") for i in range(20, 80)],   # overlap: dedup in state
        [("view", f"u{i}") for i in range(0, 10)],
    ]
    t0 = time.time() - 30
    for i, rows in enumerate(batches):
        path = os.path.join(workdir, f"b{i:02d}.parquet")
        pd.DataFrame(rows, columns=["event_type", "user_id"]).to_parquet(
            path, index=False
        )
        os.utime(path, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("event_type string, user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(workdir)
    )
    out = run_available_now(
        streaming_kmv_distinct(stream, "event_type", "user_id", k=16),
        "kmv_stream",
    )
    # each touched batch re-emits the sketch: the max-n_seen row per key
    # is the final one
    latest = {}
    for r in out:
        if r.k not in latest or r.n_seen > latest[r.k].n_seen:
            latest[r.k] = r
    final = {
        k: (r.kth_min, r.n_kept, r.distinct_estimate) for k, r in latest.items()
    }
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, "event_type string, user_id string")
    expect = {
        r.event_type: (r.kth_min, r.n_kept, r.distinct_estimate)
        for r in kmv_distinct(batch_df, "event_type", "user_id", k=16).collect()
    }
    assert final == expect
    assert final["view"][1] == 10 and final["view"][2] == 10.0  # exact below k


def test_streaming_ingest_job_filters_dedups_partitions(spark):
    """Streaming pretrain-prep front half: low-quality rows dropped,
    watermark-window duplicates suppressed, lake partitioned by date."""
    import glob

    from flink_helloworld_spark.streaming.jobs import streaming_ingest_job

    workdir = tempfile.mkdtemp(prefix="ingest-src-")
    sink = tempfile.mkdtemp(prefix="ingest-lake-")
    ck = tempfile.mkdtemp(prefix="ingest-ck-")
    base = 1704067200000  # 2024-01-01
    day = 86400000
    batches = [
        [(1, "the quick brown fox jumps", base),
         (2, "xx", base),                              # < 3 words: dropped
         (3, "the quick brown fox jumps", base + 1)],   # dup of 1: dropped
        [(4, "an entirely different document body", base + day)],
    ]
    t0 = time.time() - 30
    for i, rows in enumerate(batches):
        p = os.path.join(workdir, f"b{i:02d}.parquet")
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ms"])
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string, ms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(workdir)
        .withColumn("event_time", F.timestamp_millis(F.col("ms")))
    )
    writer, restore = streaming_ingest_job(stream, sink, ck, min_words=3)
    q = writer.trigger(availableNow=True).start()
    restore()  # the documented caller obligation: restore after .start()
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    rows = {r.doc_id for r in out.collect()}
    assert rows == {1, 4}
    # hive partition dirs by ingest date
    parts = {os.path.basename(p) for p in glob.glob(os.path.join(sink, "ingest_date=*"))}
    assert parts == {"ingest_date=2024-01-01", "ingest_date=2024-01-02"}


def test_streaming_pretrain_front_composes_gate_dedup_cap(spark):
    """Gopher gate → watermark dedup → TWS domain cap in ONE query:
    the gate drops junk before any state exists, the duplicate never
    reaches the domain counter, and the cap flags by arrival."""
    import os
    import tempfile
    import time as _time

    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.jobs import streaming_pretrain_front
    from flink_helloworld_spark.streaming.replay import run_available_now

    base = pd.Timestamp("2026-01-01 10:00:00")
    s = pd.Timedelta(seconds=1)
    good = "the quick brown fox jumps over the lazy dog again"
    frames = [
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "source": ["a", "a", "a"],
                "text": [good, "x y", good + " one"],
                "event_time": [base, base + s, base + 2 * s],
            }
        ),
        pd.DataFrame(
            {
                "doc_id": [4, 5],
                "source": ["a", "b"],
                # doc 4 duplicates doc 1's content → dedup eats it
                "text": [good, good + " two"],
                "event_time": [base + 3 * s, base + 4 * s],
            }
        ),
    ]
    workdir = tempfile.mkdtemp(prefix="pretrain-front-")
    t0 = _time.time() - 60
    for i, pdf in enumerate(frames):
        pdf = pdf.copy()
        pdf["event_time"] = pd.to_datetime(pdf["event_time"]).astype("datetime64[us]")
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema(
            "doc_id long, source string, text string, event_time timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_pretrain_front(stream, domain_cap=1)
    rows = {r.doc_id: r for r in run_available_now(out, "pretrain_front")}
    # doc 2 failed the gate, doc 4 was a duplicate: neither emitted
    assert set(rows) == {1, 3, 5}
    assert rows[1].kept and rows[1].domain_rank == 1
    assert not rows[3].kept and rows[3].domain_rank == 2  # over domain-a cap
    assert rows[5].kept  # domain b's first


def test_streaming_classifier_gate_matches_batch_scores(spark):
    """Train-offline/score-online: weights learned batch-side become
    plan constants in the streaming front-end's stateless gate, and the
    streaming scores agree EXACTLY with batch scoring of the same rows
    (same shared feature expressions). A high threshold drops the
    low-quality survivor the plain Gopher gate would pass."""
    import os
    import tempfile
    import time as _time

    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.operators.classifier import (
        attach_quality_score,
        train_quality_classifier,
    )
    from flink_helloworld_spark.streaming.jobs import streaming_pretrain_front
    from flink_helloworld_spark.streaming.replay import run_available_now

    good = "the cat and the dog sat with a mat to rest for that while"
    bad = "#### aaaaaaaaaa #### bbbbbbbbbbbb #### cccccccccccc ####"
    train_docs = spark.createDataFrame(
        [(i, good + f" v{i}") for i in range(4)]
        + [(10 + i, bad + f" x{i}") for i in range(4)],
        "doc_id long, text string",
    )
    w = train_quality_classifier(train_docs, n_iters=8)

    base = pd.Timestamp("2026-01-01 10:00:00")
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "source": ["a", "a"],
            "text": [good, bad],
            "event_time": [base, base + pd.Timedelta(seconds=1)],
        }
    )
    pdf["event_time"] = pd.to_datetime(pdf["event_time"]).astype("datetime64[us]")
    workdir = tempfile.mkdtemp(prefix="clf-gate-")
    p = os.path.join(workdir, "f000.parquet")
    pdf.to_parquet(p, index=False)
    os.utime(p, (_time.time() - 60, _time.time() - 60))
    stream = (
        spark.readStream.schema(
            "doc_id long, source string, text string, event_time timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    batch = spark.createDataFrame(
        [(1, good), (2, bad)], "doc_id long, text string"
    )
    scores = {
        r.doc_id: r.quality_score
        for r in attach_quality_score(batch, w).collect()
    }
    assert scores[1] > scores[2]
    thr = (scores[1] + scores[2]) / 2
    out = streaming_pretrain_front(
        stream, domain_cap=5, classifier_weights=w, classifier_threshold=thr
    )
    rows = {r.doc_id: r for r in run_available_now(out, "clf_gate")}
    assert set(rows) == {1}  # the low-scoring doc never reached state


def test_streaming_shard_manifest_matches_batch_recompute(spark):
    """The manifest algebra is associative/commutative (adds, min/max,
    XOR), so the streaming manifest after N micro-batches must equal the
    batch operator over all ingested docs — bit-identical, including the
    fingerprint."""
    from flink_helloworld_spark.operators.layout import shard_manifest
    from flink_helloworld_spark.streaming.jobs import streaming_shard_manifest_job

    workdir = tempfile.mkdtemp(prefix="manifest-stream-")
    batches = [
        [(i, f"alpha beta doc number {i}") for i in range(0, 30)],
        [(i, f"alpha beta doc number {i}") for i in range(30, 55)],
        [(i, f"gamma delta doc {i} tail words") for i in range(55, 80)],
    ]
    t0 = time.time() - 30
    for i, rows in enumerate(batches):
        path = os.path.join(workdir, f"b{i:02d}.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            path, index=False
        )
        os.utime(path, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(workdir)
    )
    out = run_available_now(
        streaming_shard_manifest_job(stream, shards=4),
        "manifest_stream",
        output_mode="update",
    )
    final = {}
    for r in out:  # update mode: last emission per shard wins
        final[r.shard_id] = (
            r.n_docs, r.total_tokens, r.min_id, r.max_id, r.fingerprint
        )
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, "doc_id long, text string")
    expect = {
        r.shard_id: (r.n_docs, r.total_tokens, r.min_id, r.max_id, r.fingerprint)
        for r in shard_manifest(batch_df, shards=4).collect()
    }
    assert final == expect
    assert sum(v[0] for v in final.values()) == 80


def test_streaming_filter_funnel_matches_batch_recompute(spark):
    """The funnel counters are purely additive, so the streaming funnel
    after N micro-batches must equal the batch filter_funnel over all
    ingested docs — every column, every rule."""
    from flink_helloworld_spark.operators.text import filter_funnel
    from flink_helloworld_spark.streaming.jobs import streaming_filter_funnel_job

    workdir = tempfile.mkdtemp(prefix="funnel-stream-")
    batches = [
        [(i, "the be to of and that have with regular words here") for i in range(8)]
        + [(100 + i, "a b") for i in range(3)],
        [(200 + i, "zz zz zz zz zz zz") for i in range(5)]
        + [(300, "the be weird #### #### #### symbol of heavy doc")],
        [(400 + i, f"the be to of words number {i} stretch out fine") for i in range(6)],
    ]
    t0 = time.time() - 30
    for i, rows in enumerate(batches):
        path = os.path.join(workdir, f"b{i:02d}.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path, index=False)
        os.utime(path, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(workdir)
    )
    out = run_available_now(
        streaming_filter_funnel_job(stream), "funnel_stream", output_mode="update"
    )
    final = {}
    for r in out:  # update mode: last emission per rule wins
        final[r.rule] = (r.stage, r.n_docs, r.n_fail_alone, r.n_pass_cum)
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, "doc_id long, text string")
    expect = {
        r.rule: (r.stage, r.n_docs, r.n_fail_alone, r.n_pass_cum)
        for r in filter_funnel(batch_df).collect()
    }
    assert final == expect
    assert all(v[1] == len(all_rows) for v in final.values())


def test_streaming_dsir_gate_matches_batch_weights(spark):
    """Fit-offline/score-online for DSIR: the 1024-bucket nanolog model
    fit batch-side becomes an array literal in the streaming gate, and
    the exact int64 token fold reproduces batch ``dsir_weights`` scores
    bit-for-bit; a threshold between the two docs' scores drops the
    off-target one before any state is paid."""
    import os
    import tempfile
    import time as _time

    import pandas as pd

    from flink_helloworld_spark.operators.selection import (
        attach_dsir_score,
        dsir_weights,
        fit_dsir_model,
    )
    from flink_helloworld_spark.streaming.jobs import streaming_pretrain_front
    from flink_helloworld_spark.streaming.replay import run_available_now

    target = "alpha beta gamma alpha beta gamma alpha beta"
    onlike = "alpha gamma beta alpha beta gamma gamma alpha"
    offlike = "zork quux blarg mumble frotz gnusto rezrov zork"
    corpus = spark.createDataFrame(
        [(0, target, "en", "src0", 1), (1, target + " x", "en", "src0", 1),
         (2, onlike, "en", "src1", 1), (3, offlike, "en", "src1", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    model = fit_dsir_model(corpus, target_source="src0")

    # exact parity: plan-constant fold == batch decimal ladder
    raw = corpus.where("source <> 'src0'")
    batch = {r.doc_id: r.logw for r in dsir_weights(corpus).collect()}
    attached = {
        r.doc_id: r.dsir_logw
        for r in attach_dsir_score(raw, model).collect()
    }
    assert attached == batch
    assert batch[2] > batch[3]

    base = pd.Timestamp("2026-01-01 10:00:00")
    pdf = pd.DataFrame(
        {
            "doc_id": [2, 3],
            "source": ["a", "a"],
            "text": [onlike, offlike],
            "event_time": [base, base + pd.Timedelta(seconds=1)],
        }
    )
    pdf["event_time"] = pd.to_datetime(pdf["event_time"]).astype("datetime64[us]")
    workdir = tempfile.mkdtemp(prefix="dsir-gate-")
    p = os.path.join(workdir, "f000.parquet")
    pdf.to_parquet(p, index=False)
    os.utime(p, (_time.time() - 60, _time.time() - 60))
    stream = (
        spark.readStream.schema(
            "doc_id long, source string, text string, event_time timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    thr = (batch[2] + batch[3]) / 2
    out = streaming_pretrain_front(
        stream, domain_cap=5, dsir_model=model, dsir_threshold=thr
    )
    rows = {r.doc_id: r for r in run_available_now(out, "dsir_gate")}
    assert set(rows) == {2}  # the off-target doc never reached state


def test_streaming_weighted_reservoir_matches_batch_any_order(spark):
    """A-ES keys are content-derived, so the streaming reservoir after
    ANY batch split/arrival order equals the batch sampler over the same
    rows bit-for-bit (keys, membership, and ranks). Zero-weight rows
    never enter; n_seen counts only sampleable arrivals."""
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.operators.sampling import (
        weighted_reservoir_sample,
    )
    from flink_helloworld_spark.streaming.tws import (
        streaming_weighted_reservoir,
    )

    rows = [
        (i, ["d0", "d1"][i % 2], [0, 3, 50, 7, 1][i % 5]) for i in range(36)
    ]
    # adversarial arrival order: reversed, split unevenly across batches
    arrival = list(reversed(rows))
    batches = [arrival[:5], arrival[5:9], arrival[9:30], arrival[30:]]
    workdir = tempfile.mkdtemp(prefix="res-stream-")
    t0 = time.time() - 30
    for i, b in enumerate(batches):
        path = os.path.join(workdir, f"b{i:02d}.parquet")
        pd.DataFrame(b, columns=["doc_id", "source", "weight"]).to_parquet(
            path, index=False
        )
        os.utime(path, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id long, source string, weight long")
        .option("maxFilesPerTrigger", 1)
        .parquet(workdir)
    )
    out = run_available_now(
        streaming_weighted_reservoir(stream, k=4),
        "res_stream",
    )
    latest = {}
    for r in out:  # max-n_seen emission per stratum is the live sample
        if r.source not in latest or r.n_seen > latest[r.source][0]:
            latest[r.source] = (r.n_seen, {})
        if r.n_seen == latest[r.source][0]:
            latest[r.source][1][r.res_rank] = (r.doc_id, r.res_key, r.weight)
    batch_df = spark.createDataFrame(rows, "doc_id long, source string, weight long")
    expect = {}
    for r in weighted_reservoir_sample(
        batch_df, "source", "weight", "doc_id", k=4
    ).collect():
        expect.setdefault(r.source, {})[r.res_rank] = (
            r.doc_id, r.res_key, r.weight
        )
    assert {s: d for s, (_, d) in latest.items()} == expect
    n_sampleable = sum(1 for _, _, w in rows if w > 0)
    assert sum(n for n, _ in latest.values()) == n_sampleable


def test_streaming_corpus_manifest_matches_batch_survivor_manifest(spark):
    """Gate → watermark dedup → incremental manifest composed as ONE
    query: the final per-shard manifest equals the batch shard_manifest
    over the batch-computed survivors (gate + first-arrival exact dedup
    — arrival order is arranged so first-arrival == min doc_id, the
    batch rule)."""
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.operators.layout import shard_manifest
    from flink_helloworld_spark.streaming.tws import (
        streaming_corpus_manifest_tws,
    )

    # mean word length must sit in the Gopher band [3, 10]
    good = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = []
    for i in range(40):
        rows.append((i, f"{good} variant{i}"))
    rows.append((50, rows[3][1]))  # dup arrives after the original
    rows.append((51, "####"))  # gate-dropped
    workdir = tempfile.mkdtemp(prefix="cm-stream-")
    t0 = time.time() - 30
    batches = [rows[:15], rows[15:30], rows[30:]]
    for i, b in enumerate(batches):
        pdf = pd.DataFrame(b, columns=["doc_id", "text"])
        path = os.path.join(workdir, f"b{i:02d}.parquet")
        pdf.to_parquet(path, index=False)
        os.utime(path, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(workdir)
    )
    out = run_available_now(
        streaming_corpus_manifest_tws(stream, shards=4),
        "cm_stream",
    )
    final = {}
    for r in out:
        final[r.shard_id] = (
            r.n_docs, r.total_tokens, r.min_id, r.max_id, r.fingerprint
        )
    # batch survivors: gate (>=5 words, mean len in band) + min-id dedup
    survivors = [(i, t) for i, t in rows if i not in (50, 51)]
    batch_df = spark.createDataFrame(survivors, "doc_id long, text string")
    expect = {
        r.shard_id: (r.n_docs, r.total_tokens, r.min_id, r.max_id, r.fingerprint)
        for r in shard_manifest(batch_df, shards=4).collect()
    }
    assert final == expect
    assert sum(v[0] for v in final.values()) == 40


def test_streaming_corpus_manifest_recovers_both_states_from_checkpoint(spark):
    """Checkpoint recovery across TWO chained transformWithState
    operators: a restart resumes BOTH the content-dedup state (a dup of
    a run-1 doc arriving in run 2 must be suppressed) and the manifest
    counters (totals continue, never reset)."""
    import time as _time

    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.operators.layout import shard_manifest
    from flink_helloworld_spark.streaming.tws import (
        streaming_corpus_manifest_tws,
    )

    good = "alpha bravo charlie delta echo foxtrot golf hotel india"
    workdir = tempfile.mkdtemp(prefix="cmrec-in-")
    out_dir = tempfile.mkdtemp(prefix="cmrec-out-")
    ck = tempfile.mkdtemp(prefix="cmrec-ck-")

    def put(name, rows):
        p = os.path.join(workdir, name)
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(p, index=False)
        os.utime(p, (_time.time(), _time.time()))

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            workdir
        )
        q = (
            streaming_corpus_manifest_tws(stream, shards=4)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        q.stop()
        q.awaitTermination(30)
        rows = spark.read.parquet(out_dir).collect()
        final = {}
        for r in rows:  # freshest emission per shard = max n_docs
            if r.shard_id not in final or r.n_docs > final[r.shard_id][0]:
                final[r.shard_id] = (
                    r.n_docs, r.total_tokens, r.min_id, r.max_id, r.fingerprint
                )
        return final

    rows1 = [(i, f"{good} variant{i}") for i in range(20)]
    put("b0.parquet", rows1)
    first = run_once()
    assert sum(v[0] for v in first.values()) == 20

    # run 2: 10 new docs + a CROSS-RUN duplicate of doc 7's content
    rows2 = [(100 + i, f"{good} variant{100 + i}") for i in range(10)]
    rows2.append((999, rows1[7][1]))
    put("b1.parquet", rows2)
    second = run_once()
    survivors = rows1 + rows2[:-1]  # the cross-run dup never lands
    batch_df = spark.createDataFrame(survivors, "doc_id long, text string")
    expect = {
        r.shard_id: (r.n_docs, r.total_tokens, r.min_id, r.max_id, r.fingerprint)
        for r in shard_manifest(batch_df, shards=4).collect()
    }
    assert second == expect
    assert sum(v[0] for v in second.values()) == 30


def test_job_builders_auto_size_stateful_partitions(spark):
    """rows_per_trigger wires the sqrt capacity law into the job
    builders: the shuffle-partition conf (the only binding knob for a
    stateful operator's partitioning, pinned at the first checkpoint)
    must be set to the suggested count before the caller's .start()."""
    import tempfile

    from flink_helloworld_spark.streaming._util import (
        suggest_stateful_partitions,
    )
    from flink_helloworld_spark.streaming.jobs import streaming_ingest_job

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        workdir = tempfile.mkdtemp(prefix="autosz-in-")
        stream = spark.readStream.schema(
            "doc_id long, text string, event_time timestamp"
        ).parquet(workdir)
        _, restore = streaming_ingest_job(
            stream,
            tempfile.mkdtemp(prefix="autosz-out-"),
            tempfile.mkdtemp(prefix="autosz-ck-"),
            rows_per_trigger=12500,
        )
        expect = suggest_stateful_partitions(12500)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(expect)
        assert expect == 25  # sqrt(12500 * 0.05), the measured 10x winner
        # ADVICE r7: the returned restore handle undoes the override
        # without the caller knowing the _util contract — idempotently
        restore()
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev
        restore()
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_suggest_stateful_partitions_sqrt_law():
    """The auto-sizer must reproduce BOTH round-6 hand-found optima —
    ~8 partitions at 1,250 input rows/trigger and ~32 at 12,500 — which
    a linear rows/N rule cannot (it gives the same answer for both up
    to rounding). n* = sqrt(rows x c_row/c_fixed)."""
    from flink_helloworld_spark.streaming import suggest_stateful_partitions

    assert suggest_stateful_partitions(1250) == 8
    n10 = suggest_stateful_partitions(12500)
    assert 20 <= n10 <= 32
    # floor and cap behavior
    assert suggest_stateful_partitions(0) == 2
    assert suggest_stateful_partitions(10) == 2
    assert suggest_stateful_partitions(12500, cap=16) == 16
    # monotone in rows
    assert suggest_stateful_partitions(125000) > n10


# --- KMV set algebra -----------------------------------------------------------


class TestKmvSetOps:
    def _snap(self, spark, ids):
        return spark.createDataFrame(
            [(i, f"content-{i}") for i in ids], "doc_id long, val string"
        )

    def test_exact_under_k(self, spark):
        # 6 ∪-distinct values < k=16: every output is EXACT set algebra
        from flink_helloworld_spark.operators.rollups import kmv_set_ops

        a = self._snap(spark, [1, 2, 3, 4]).withColumn("g", F.lit("x"))
        b = self._snap(spark, [3, 4, 5, 6]).withColumn("g", F.lit("x"))
        row = kmv_set_ops(a, b, "g", "val", k=16).collect()[0]
        assert row.n_l == 6 and row.rho == 2
        assert row.union_est == 6.0
        assert row.jaccard_est == 2.0 / 6.0
        assert row.intersect_est == 2.0

    def test_estimates_track_truth_when_saturated(self, spark):
        # planted overlap: |A|=600, |B|=600, |A∩B|=300 -> J=1/3,
        # |A∪B|=900; k=64 sketches must land within ~25% of truth
        from flink_helloworld_spark.operators.rollups import kmv_set_ops

        a = self._snap(spark, range(0, 600)).withColumn("g", F.lit("x"))
        b = self._snap(spark, range(300, 900)).withColumn("g", F.lit("x"))
        row = kmv_set_ops(a, b, "g", "val", k=64).collect()[0]
        assert row.n_l == 64  # saturated
        assert 0.75 * 900 < row.union_est < 1.25 * 900
        assert 0.15 < row.jaccard_est < 0.55
        assert 0.5 * 300 < row.intersect_est < 1.6 * 300

    def test_disjoint_sets(self, spark):
        from flink_helloworld_spark.operators.rollups import kmv_set_ops

        a = self._snap(spark, range(0, 100)).withColumn("g", F.lit("x"))
        b = self._snap(spark, range(100, 200)).withColumn("g", F.lit("x"))
        row = kmv_set_ops(a, b, "g", "val", k=32).collect()[0]
        assert row.rho == 0
        assert row.jaccard_est == 0.0 and row.intersect_est == 0.0

    def test_identical_sets(self, spark):
        from flink_helloworld_spark.operators.rollups import kmv_set_ops

        a = self._snap(spark, range(0, 200)).withColumn("g", F.lit("x"))
        row = kmv_set_ops(a, a, "g", "val", k=32).collect()[0]
        assert row.rho == 32 and row.jaccard_est == 1.0
        assert row.union_est == row.intersect_est

    def test_empty_side_is_exact_not_null(self, spark):
        # the cms_join_size bug-class (r10): an agg over a join with an
        # EMPTY side must produce zeros, not NULLs or dropped rows —
        # B empty => union == |A| exact, rho/jaccard/intersect == 0
        from flink_helloworld_spark.operators.rollups import kmv_set_ops

        a = self._snap(spark, range(0, 10)).withColumn("g", F.lit("x"))
        b = self._snap(spark, []).withColumn("g", F.lit("x"))
        row = kmv_set_ops(a, b, "g", "val", k=32).collect()[0]
        assert row.n_l == 10 and row.rho == 0
        assert row.union_est == 10.0
        assert row.jaccard_est == 0.0 and row.intersect_est == 0.0
        # and a group present only in B still reports (symmetry)
        b2 = self._snap(spark, range(5)).withColumn("g", F.lit("y"))
        rows = {
            r.g: r
            for r in kmv_set_ops(
                a, b2.unionByName(b), "g", "val", k=32
            ).collect()
        }
        assert rows["x"].union_est == 10.0 and rows["x"].rho == 0
        assert rows["y"].union_est == 5.0 and rows["y"].rho == 0


class TestSketchDegenerateInputs:
    """The cms_join_size bug-class sweep (VERDICT r10 item 4): every
    sketch/estimator whose aggregate consumes a join that can be empty
    or partial on adversarial inputs must produce ZEROS/False — never
    NULL, never a silently dropped row — and the contracts around
    NULL-only inputs are pinned explicitly."""

    def test_cms_point_estimates_absent_probes_are_zero(self, spark):
        # probes whose d cells are ALL empty in the sparse sketch: the
        # left join + coalesce must yield est 0 per probe (an inner
        # join would drop the probe row entirely)
        from flink_helloworld_spark.operators.rollups import (
            cms_point_estimates,
        )

        corpus = spark.createDataFrame(
            [(f"user-{i}",) for i in range(20)], "user_id string"
        )
        probes = spark.createDataFrame(
            [("ghost-1",), ("ghost-2",), ("user-3",)], "user_id string"
        )
        got = {
            r.user_id: r.cms_est
            for r in cms_point_estimates(
                corpus, "user_id", probes
            ).collect()
        }
        assert set(got) == {"ghost-1", "ghost-2", "user-3"}
        # CMS never undercounts: absent keys may collide upward, but a
        # tiny corpus in a 4x256 sketch leaves the ghosts' cells clean
        assert got["user-3"] >= 1
        assert got["ghost-1"] >= 0 and got["ghost-2"] >= 0

    def test_cms_point_estimates_empty_corpus(self, spark):
        # fully empty sketch: every probe row survives with est 0
        from flink_helloworld_spark.operators.rollups import (
            cms_point_estimates,
        )

        corpus = spark.createDataFrame([], "user_id string")
        probes = spark.createDataFrame(
            [("a",), ("b",)], "user_id string"
        )
        got = cms_point_estimates(corpus, "user_id", probes).collect()
        assert sorted((r.user_id, r.cms_est) for r in got) == [
            ("a", 0),
            ("b", 0),
        ]

    def test_bloom_probe_without_filter_is_false(self, spark):
        # a probe group with no built filter is DEFINITELY absent —
        # the row must survive the left join as might_contain=False
        from flink_helloworld_spark.operators.rollups import (
            bloom_filter_build,
            bloom_might_contain,
        )

        data = spark.createDataFrame(
            [("g1", "a"), ("g1", "b")], "g string, v string"
        )
        filters = bloom_filter_build(data, "g", "v")
        probes = spark.createDataFrame(
            [("g1", "a"), ("g1", "zzz"), ("g-absent", "a")],
            "g string, v string",
        )
        got = {
            (r.g, r.v): r.might_contain
            for r in bloom_might_contain(
                filters, probes, "g", "v"
            ).collect()
        }
        assert got[("g1", "a")] is True
        assert got[("g-absent", "a")] is False  # no filter -> False
        assert got[("g1", "zzz")] is False  # clean miss in-filter

    def test_bloom_empty_filter_table(self, spark):
        from flink_helloworld_spark.operators.rollups import (
            bloom_filter_build,
            bloom_might_contain,
        )

        filters = bloom_filter_build(
            spark.createDataFrame([], "g string, v string"), "g", "v"
        )
        probes = spark.createDataFrame(
            [("g1", "a")], "g string, v string"
        )
        got = bloom_might_contain(filters, probes, "g", "v").collect()
        assert [(r.g, r.v, r.might_contain) for r in got] == [
            ("g1", "a", False)
        ]

    def test_psi_disjoint_buckets_and_empty_snapshot(self, spark):
        # snapshots whose (lang, band) buckets are fully DISJOINT:
        # the full-outer join + Laplace smoothing keeps every bucket
        # with finite psi terms (no NULL counts, no log(0)); an EMPTY
        # snapshot degenerates the same way
        from flink_helloworld_spark.operators.text import (
            corpus_drift_psi,
        )

        a = spark.createDataFrame(
            [(1, "one two three four five six seven eight nine ten", "en")],
            "doc_id long, text string, lang string",
        )
        b = spark.createDataFrame(
            [(2, "uno dos tres cuatro cinco seis siete ocho nueve x", "es")],
            "doc_id long, text string, lang string",
        )
        rows = corpus_drift_psi(a, b).collect()
        assert len(rows) == 2  # both buckets present
        for r in rows:
            assert r.n_a is not None and r.n_b is not None
            assert 0 in (r.n_a, r.n_b)  # disjoint
            assert r.psi_term is not None and r.psi_term > 0
        empty = spark.createDataFrame(
            [], "doc_id long, text string, lang string"
        )
        rows2 = corpus_drift_psi(a, empty).collect()
        assert len(rows2) == 1
        assert rows2[0].n_b == 0 and rows2[0].psi_term is not None

    def test_hll_and_kmv_null_only_group_contract(self, spark):
        # pinned CONTRACT: a group whose values are all NULL carries no
        # distinct values and is ABSENT from the sketch output (exactly
        # like a group with no rows) — it is not a NULL estimate, and
        # groups with >=1 real value are unaffected by NULL siblings
        from flink_helloworld_spark.operators.rollups import (
            hll_distinct,
            kmv_distinct,
        )

        df = spark.createDataFrame(
            [("g1", "a"), ("g1", None), ("g2", None), ("g2", None)],
            "g string, v string",
        )
        hll = {r.g: r for r in hll_distinct(df, "g", "v").collect()}
        assert set(hll) == {"g1"}
        assert hll["g1"].distinct_estimate is not None
        kmv = {r.g: r for r in kmv_distinct(df, "g", "v").collect()}
        assert set(kmv) == {"g1"}
        assert kmv["g1"].distinct_estimate == 1.0  # exact under k
