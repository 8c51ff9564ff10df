"""Property tests for the stateful streaming operators: randomized
(seeded) event scripts replayed through the streaming engine and
asserted against a sequential Python model / batch recomputation. The
golden fixtures (test_streaming_golden.py) pin 5 hand-picked scripts;
these fuzz the watermark/ordering edges with 50+ random per-key scripts
per operator.

Scripts are packed so each test stays one-or-few streaming runs: state
is keyed, so 60 independent random scripts replay CONCURRENTLY under 60
distinct keys in a single query (watermark-free operators), and the
watermark-dependent operators replay a few multi-key random scripts
that share one global watermark — exactly Spark's runtime shape.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
import time as _time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_helloworld_spark.streaming import event_windows as EW
from flink_helloworld_spark.streaming import stateful as ST
from flink_helloworld_spark.streaming.coflatmap import co_flat_map_join
from flink_helloworld_spark.streaming.replay import (
    Step,
    read_script_stream,
    run_available_now,
    write_script,
)
from flink_helloworld_spark.streaming.tws import rolling_sum_stream

WINDOW_MS = 3000


from flink_helloworld_spark.streaming.replay import (  # noqa: E402
    write_batch_files as _write_files,
)


def test_coflatmap_join_matches_model_on_60_random_scripts(spark):
    """60 independent random fact/dim scripts (one per key) replayed in
    ONE co_flat_map_join query: the streaming result must equal the
    sequential buffer-until-dim model for every script — dims overwrite,
    facts join immediately when a dim is known, buffered facts flush
    with the dim that arrives, facts with no dim ever are never emitted.
    Rows are shuffled WITHIN each micro-batch file so the seq-restore
    path is exercised, and scripts are sliced across batches at random
    points so state round-trips mid-script."""
    rng = random.Random(0xC0FFEE)
    events: list[dict] = []  # global arrival order
    for script in range(60):
        key = f"s{script:02d}"
        n_ev = rng.randint(2, 8)
        for _ in range(n_ev):
            if rng.random() < 0.35:
                events.append(
                    {"side": "R", "key": key, "amount": None,
                     "dim_name": f"{key}-d{rng.randint(0, 3)}"}
                )
            else:
                events.append(
                    {"side": "L", "key": key, "amount": rng.randint(1, 999),
                     "dim_name": None}
                )
    rng.shuffle(events)
    for seq, e in enumerate(events):
        e["_seq"] = seq

    # model: sequential per-key replay in seq order
    dim: dict[str, str] = {}
    buf: dict[str, list[int]] = {}
    expect: list[tuple[str, int, str]] = []
    for e in events:
        k = e["key"]
        if e["side"] == "R":
            dim[k] = e["dim_name"]
            for amount in buf.pop(k, []):
                expect.append((k, amount, dim[k]))
        elif k in dim:
            expect.append((k, e["amount"], dim[k]))
        else:
            buf.setdefault(k, []).append(e["amount"])

    # slice the global order into ~12 micro-batches at random cut points,
    # then shuffle within each batch (seq must restore order)
    cuts = sorted(rng.sample(range(1, len(events)), 11))
    batches = [events[a:b] for a, b in zip([0] + cuts, cuts + [len(events)])]
    for b in batches:
        rng.shuffle(b)
    workdir = tempfile.mkdtemp(prefix="cfm-prop-")
    _write_files(batches, workdir, dtypes={"amount": "Int64"})
    raw = (
        spark.readStream.schema(
            "side string, key string, amount long, dim_name string, _seq long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    left = raw.where(F.col("side") == "L").select("key", "_seq", "amount")
    right = raw.where(F.col("side") == "R").select("key", "_seq", "dim_name")
    joined = co_flat_map_join(left, right, "key", ["amount"], ["dim_name"], "_seq")
    rows = run_available_now(joined, "cfm_prop")
    got = sorted((r.key, r.amount, r.dim_name) for r in rows)
    assert got == sorted(expect)


def _random_watermark_script(
    rng: random.Random, n_keys: int, n_data: int, horizon_ms: int
) -> list[Step]:
    keys = [f"k{i:02d}" for i in range(n_keys)]
    steps: list[Step] = []
    for _ in range(n_data):
        wm = rng.randrange(horizon_ms) if rng.random() < 0.25 else -1
        steps.append(
            Step(rng.choice(keys), rng.randint(1, 99), rng.randrange(horizon_ms), wm)
        )
    return steps


def _model_tumbling(steps: list[Step]) -> dict[tuple[int, str], int]:
    """Flink-rule model of the append-mode tumbling sum: a row is dropped
    iff its window's maxTimestamp (end-1) ≤ the current Flink watermark
    (set by strictly EARLIER steps; watermarks only move forward); every
    surviving row lands in its (window_start, key) sum and each window
    fires exactly once (lateness 0 ⇒ no re-fires)."""
    cur_wm = -1
    sums: dict[tuple[int, str], int] = {}
    for s in steps:
        w_start = (s.event_ts_ms // WINDOW_MS) * WINDOW_MS
        if not (w_start + WINDOW_MS - 1 <= cur_wm):
            key = (w_start, s.k)
            sums[key] = sums.get(key, 0) + s.v
        if s.watermark_ms > 0:
            cur_wm = max(cur_wm, s.watermark_ms)
    return sums


@pytest.mark.slow
@pytest.mark.parametrize("seed", [11, 22, 33])
def test_tumbling_sum_matches_model_on_random_scripts(spark, seed):
    """3 seeds × 18 keys = 54 random per-key scripts through the
    watermarked tumbling sum: streaming output (append mode, late rows
    dropped at the translated Flink boundary) must equal the sequential
    watermark model for every (window, key).

    Random scripts freely let data rows OUTPACE the scripted watermark
    (legal in Flink, where the watermark lags max event time
    arbitrarily), so this uses the harness's documented bounded-out-of-
    orderness mapping: delay = the script horizon so data rows never
    advance Spark's ``max_ts - delay`` watermark, and driver rows offset
    by delay+1 place it exactly at the Flink drop boundary."""
    rng = random.Random(seed)
    horizon = 15_000
    steps = _random_watermark_script(rng, n_keys=18, n_data=24, horizon_ms=horizon)
    workdir = tempfile.mkdtemp(prefix=f"tumb-prop-{seed}-")
    write_script(steps, workdir, wm_offset=horizon + 1)
    stream = EW.tumbling_sum_stream(
        read_script_stream(spark, workdir), "3 seconds", delay=f"{horizon} milliseconds"
    )
    rows = run_available_now(stream, f"tumb_prop_{seed}")
    got = {
        (int(r.window_start.timestamp() * 1000), r.k): int(r.window_sum) for r in rows
    }
    assert got == _model_tumbling(steps)


def _model_late_flags(
    steps: list[Step], lateness_ms: int
) -> list[tuple[str, int, int, bool]]:
    """Model of the late-row classifier: the tracked watermark is the
    running max of emitted driver rows (flink wm + 1, per the harness
    translation), and a row is late iff window_end + lateness ≤ it."""
    max_wm = -1
    out = []
    for s in steps:
        w_end = (s.event_ts_ms // WINDOW_MS + 1) * WINDOW_MS
        out.append((s.k, s.v, s.event_ts_ms, w_end + lateness_ms <= max_wm))
        if s.watermark_ms > 0:
            max_wm = max(max_wm, s.watermark_ms + 1)
    return out


@pytest.mark.slow
@pytest.mark.parametrize("seed,lateness", [(7, 0), (8, 2000)])
def test_late_rows_classifier_matches_model_on_random_scripts(spark, seed, lateness):
    """Randomized W11 side-output classification, with and without
    allowedLateness: every row's is_late flag must match the sequential
    watermark model, across micro-batch state round-trips."""
    rng = random.Random(seed)
    steps = _random_watermark_script(rng, n_keys=10, n_data=22, horizon_ms=15_000)
    workdir = tempfile.mkdtemp(prefix=f"late-prop-{seed}-")
    write_script(steps, workdir)
    stream = EW.late_rows_stream(
        read_script_stream(spark, workdir), WINDOW_MS, lateness_ms=lateness
    )
    rows = run_available_now(stream, f"late_prop_{seed}")
    got = sorted((r.k, r.v, r.event_ts_ms, r.is_late) for r in rows)
    assert got == sorted(_model_late_flags(steps, lateness))


GAP_MS = 5_000


@pytest.mark.slow
@pytest.mark.parametrize("seed", [3, 14])
def test_timer_sessions_match_model_on_random_scripts(spark, seed):
    """Timer-based session flush (SessionFlushProcessor) fuzz: random
    keys/gaps on a monotone event-time script — sessions close BOTH ways
    (inline when a same-key event exceeds the gap, and via event-time
    timer when other keys drag the watermark past a silent key's
    last+gap). Streaming output must equal the sequential
    split-on-gap model for every key."""
    import pandas as pd
    import pytest as _pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        _pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import session_flush_tws

    rng = random.Random(seed)
    keys = [f"k{i}" for i in range(6)]
    base_ms = 1_767_225_600_000  # 2026-01-01 UTC, epoch ms
    t = base_ms
    events = []
    for _ in range(28):
        t += rng.randint(500, GAP_MS * 2)  # monotone: no late data
        events.append({"k": rng.choice(keys), "ts_ms": t, "v": float(rng.randint(1, 9))})
    # far-future spacers fire every remaining timer (watermark applied
    # with the usual batch lag, so three trailing batches like
    # write_script's end-of-input flush)
    spacers = [
        [{"k": "zz", "ts_ms": t + 10_000_000_000 + i, "v": 0.0}] for i in range(3)
    ]

    # model: per key, split on gap, round-9 running totals
    expect: list[tuple] = []
    per_key: dict[str, list] = {}
    for e in events:
        per_key.setdefault(e["k"], []).append(e)
    for k, evs in per_key.items():
        cur = [evs[0]]
        for e in evs[1:]:
            # ">= gap" split rule — identical to the timer boundary
            if e["ts_ms"] - cur[-1]["ts_ms"] >= GAP_MS:
                total = 0.0
                for x in cur:
                    total = round(total + x["v"], 9)
                expect.append((k, cur[0]["ts_ms"], cur[-1]["ts_ms"], total, len(cur)))
                cur = []
            cur.append(e)
        total = 0.0
        for x in cur:
            total = round(total + x["v"], 9)
        expect.append((k, cur[0]["ts_ms"], cur[-1]["ts_ms"], total, len(cur)))

    cuts = sorted(rng.sample(range(1, len(events)), 9))
    batches = [events[a:b] for a, b in zip([0] + cuts, cuts + [len(events)])] + spacers
    rows_per_file = []
    for b in batches:
        rows_per_file.append(
            [
                {
                    "k": e["k"],
                    "ts": pd.Timestamp(e["ts_ms"], unit="ms"),
                    "v": e["v"],
                }
                for e in b
            ]
        )
    workdir = tempfile.mkdtemp(prefix=f"sess-prop-{seed}-")
    # us-precision: pandas' default ns parquet type reads back as LONG
    _write_files(rows_per_file, workdir, dtypes={"ts": "datetime64[us]"})
    stream = (
        spark.readStream.schema("k string, ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = session_flush_tws(stream, gap_ms=GAP_MS)
    rows = run_available_now(out, f"sess_prop_{seed}")
    got = sorted(
        (r.k, r.session_start_ms, r.session_end_ms, r.total, r.cnt)
        for r in rows
        if r.k != "zz"
    )
    assert got == sorted(expect)


def test_session_event_at_exact_gap_starts_new_session(spark):
    """Review regression: an event arriving exactly gap_ms after the
    previous one must START A NEW session via the inline path, matching
    the timer boundary (the timer at end+gap fires once the watermark
    reaches it) — previously the inline check used a strict '>' and the
    split/merge decision depended on micro-batch packing."""
    import pandas as pd
    import pytest as _pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        _pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import session_flush_tws

    base_ms = 1_767_261_600_000
    rows = [
        {"k": "a", "ts": pd.Timestamp(base_ms, unit="ms"), "v": 1.0},
        {"k": "a", "ts": pd.Timestamp(base_ms + GAP_MS, unit="ms"), "v": 2.0},
    ]
    spacers = [
        [{"k": "z", "ts": pd.Timestamp(base_ms + 10_000_000_000 + i, unit="ms"), "v": 0.0}]
        for i in range(3)
    ]
    workdir = tempfile.mkdtemp(prefix="sess-boundary-")
    _write_files([rows] + spacers, workdir, dtypes={"ts": "datetime64[us]"})
    stream = (
        spark.readStream.schema("k string, ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = session_flush_tws(stream, gap_ms=GAP_MS)
    got = sorted(
        (r.session_start_ms, r.session_end_ms, r.total, r.cnt)
        for r in run_available_now(out, "sess_boundary")
        if r.k == "a"
    )
    assert got == [
        (base_ms, base_ms, 1.0, 1),
        (base_ms + GAP_MS, base_ms + GAP_MS, 2.0, 1),
    ]


def _rolling_model(vals):
    total, out = 0.0, []
    for i, v in enumerate(vals):
        total = round(total + v, 9)
        out.append((i, total))
    return out


def _count_window_model(vals, n=5):
    out, acc = [], 0.0
    for i, v in enumerate(vals):
        acc = round(acc + v, 9)
        if (i + 1) % n == 0:
            out.append((i // n, acc))
            acc = 0.0
    return out


def _evictor_model(vals, every=3, keep=5):
    return [
        (i, round(sum(vals[max(0, i - keep) : i]), 9))
        for i in range(every, len(vals) + 1, every)
    ]


# (operator over (k, _seq, v), output row -> tuple, sequential model)
CHUNK_FOLDS = {
    "rolling_sum": (
        lambda raw: rolling_sum_stream(raw, "k", "v", "_seq"),
        lambda r: (r._seq, r.running_total),
        _rolling_model,
    ),
    "count_window": (
        lambda raw: ST.count_window_stream(raw, "k", "v", "_seq", n=5),
        lambda r: (r.bucket, r.window_sum),
        _count_window_model,
    ),
    "count_trigger_evictor": (
        lambda raw: ST.count_trigger_evictor_stream(
            raw, "k", "v", "_seq", every=3, keep=5
        ),
        lambda r: (r.fire_seq, r.fired_sum),
        _evictor_model,
    ),
}


@pytest.mark.parametrize("fold", list(CHUNK_FOLDS))
def test_value_fold_correct_across_arrow_chunk_splits(spark, fold):
    """Regression for the per-chunk-sort hazard (ADVICE r3): with
    ``arrow.maxRecordsPerBatch`` forced to 4, a single key's 24-row
    micro-batch arrives as SIX chunks; out-of-seq rows across chunk
    boundaries must still produce the exact in-seq outputs of the
    rolling sum and both count windows."""
    build, as_tuple, model = CHUNK_FOLDS[fold]
    rng = random.Random(99)
    vals = [float(rng.randint(1, 50)) for _ in range(24)]
    rows = [{"k": "only", "_seq": i, "v": v} for i, v in enumerate(vals)]
    rng.shuffle(rows)  # file order != seq order, so chunks interleave seqs
    workdir = tempfile.mkdtemp(prefix="chunk-prop-")
    _write_files([rows], workdir)  # ONE file = one micro-batch, 6 chunks

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        raw = (
            spark.readStream.schema("k string, _seq long, v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(workdir)
        )
        out = run_available_now(build(raw), f"chunk_prop_{fold}")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert sorted(as_tuple(r) for r in out) == model(vals)


def test_tws_state_resumes_from_checkpoint_across_restarts(spark):
    """transformWithState durability: run the rolling sum over batch 1
    with a checkpoint, STOP the query, append batch 2, and restart from
    the same checkpoint — the typed ValueState must continue the totals
    (not restart at 0), and already-emitted rows must not re-emit into
    the cumulative sink."""
    import os

    import pandas as pd
    import pytest as _pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        _pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import rolling_sum_stream

    workdir = tempfile.mkdtemp(prefix="tws-resume-in-")
    out_dir = tempfile.mkdtemp(prefix="tws-resume-out-")
    ck = tempfile.mkdtemp(prefix="tws-resume-ck-")

    def put(i, rows):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame(rows, columns=["k", "seq", "v"]).to_parquet(p, index=False)
        os.utime(p, (_time.time() - 60 + i, _time.time() - 60 + i))

    def run_once():
        raw = spark.readStream.schema("k string, seq long, v double").parquet(
            workdir
        )
        q = (
            rolling_sum_stream(raw, "k", "v", "seq")
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
        return sorted(
            (r.k, r.seq, r.running_total)
            for r in spark.read.parquet(out_dir).collect()
        )

    put(0, [("a", 0, 1.0), ("a", 1, 2.0), ("b", 0, 5.0)])
    first = run_once()
    assert first == [("a", 0, 1.0), ("a", 1, 3.0), ("b", 0, 5.0)]
    put(1, [("a", 2, 4.0), ("b", 1, 1.0)])
    second = run_once()
    # totals CONTINUE from restored state; run-1 rows appear exactly once
    assert second == [
        ("a", 0, 1.0),
        ("a", 1, 3.0),
        ("a", 2, 7.0),
        ("b", 0, 5.0),
        ("b", 1, 6.0),
    ]


# --- composed streaming front-end fuzz (r5: VERDICT #8) ---------------------


def _front_corpus(rng, n_domains, docs_per_domain=(3, 7)):
    """Random corpus for the pretrain front-end: per doc a style drawn
    from {good, too-short, bad-mean-length, duplicate-of-earlier}. Times
    are strictly increasing seconds so arrival order == event order, and
    duplicates always copy a doc at least 101 rows back while
    _write_front_files ASSERTS its file chunks hold <= 100 rows — so a
    duplicate never shares a micro-batch with its original (within-batch
    dedup keep-order is unspecified; cross-batch it is first-wins). The
    pairing is load-bearing: review found the old distance (41) could
    land inside a 42-59-row chunk, making the sequential model's
    first-wins assumption silently seed-dependent."""
    good_words = [
        "the", "quick", "brown", "jumps", "window", "stream",
        "little", "castle", "over", "dog", "fox", "apple",
    ]
    rows = []
    for d in range(n_domains):
        for _ in range(rng.randint(*docs_per_domain)):
            i = len(rows)
            style = rng.random()
            if style < 0.15 and i > 100:
                text = rows[rng.randrange(0, i - 100)][2]  # duplicate
            elif style < 0.35:
                text = " ".join(rng.choice("ab") for _ in range(rng.randint(5, 9)))
            elif style < 0.45:
                text = " ".join(good_words[: rng.randint(1, 4)])  # too short
            else:
                text = " ".join(
                    rng.choice(good_words) for _ in range(rng.randint(5, 14))
                )
            rows.append((i, f"dom{d}", text))
    return rows


def _write_front_files(rows, workdir, n_files=6):
    base = pd.Timestamp("2026-01-01 10:00:00")
    chunk = (len(rows) + n_files - 1) // n_files
    # keep the cross-batch guarantee of _front_corpus's 101-row
    # duplicate distance honest: grow n_files, not chunk size
    assert chunk <= 100, f"chunk {chunk} breaks the duplicate-distance pact"
    t0 = _time.time() - 120
    for fi in range(n_files):
        part = rows[fi * chunk : (fi + 1) * chunk]
        if not part:
            continue
        pdf = pd.DataFrame(
            {
                "doc_id": [r[0] for r in part],
                "source": [r[1] for r in part],
                "text": [r[2] for r in part],
                "event_time": [
                    base + pd.Timedelta(seconds=r[0]) for r in part
                ],
            }
        )
        pdf["event_time"] = pd.to_datetime(pdf["event_time"]).astype(
            "datetime64[us]"
        )
        p = os.path.join(workdir, f"f{fi:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + fi, t0 + fi))


def _model_gate(text):
    ws = [w for w in text.split(" ") if w]
    n = len(ws)
    if n < 5:
        return False
    mean_wlen = (len(text) - (n - 1)) / n
    return 3.0 <= mean_wlen <= 10.0


def _model_front(rows, cap, keep):
    """Sequential replay of gate → first-wins dedup → per-domain cap."""
    seen, counts, expect = set(), {}, {}
    for i, dom, text in rows:
        if not keep(text):
            continue
        if text in seen:
            continue
        seen.add(text)
        counts[dom] = counts.get(dom, 0) + 1
        expect[i] = (dom, counts[dom], counts[dom] <= cap)
    return expect


def _read_front_stream(spark, workdir):
    return (
        spark.readStream.schema(
            "doc_id long, source string, text string, event_time timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )


@pytest.mark.parametrize("seed", [101, 202])
def test_pretrain_front_fuzz_matches_sequential_model(spark, seed):
    """50 random per-domain scripts through the COMPOSED front-end
    (Gopher gate → watermark dedup → TWS domain cap) in ONE streaming
    query, asserted doc-for-doc against a sequential Python model."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.jobs import streaming_pretrain_front

    rng = random.Random(seed)
    rows = _front_corpus(rng, n_domains=50)
    workdir = tempfile.mkdtemp(prefix=f"front-fuzz-{seed}-")
    try:
        _write_front_files(rows, workdir)
        out = streaming_pretrain_front(
            _read_front_stream(spark, workdir), domain_cap=2
        )
        got = {
            r.doc_id: (r.source, r.domain_rank, r.kept)
            for r in run_available_now(out, f"front_fuzz_{seed}")
        }
        expect = _model_front(rows, cap=2, keep=_model_gate)
        assert got == expect
        assert len(expect) >= 100  # the fuzz actually exercised the stages
        assert any(not k for (_, _, k) in expect.values())  # caps fired
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@pytest.mark.parametrize("seed", [303, 404])
def test_pretrain_front_classifier_gate_fuzz_matches_batch_scores(spark, seed):
    """Same fuzz with the train-offline/score-online classifier gate
    enabled: weights learned batch-side, the model's keep-rule uses the
    BATCH scores of the same texts (exact agreement is the contract),
    then first-wins dedup and the domain cap as before."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.operators.classifier import (
        attach_quality_score,
        train_quality_classifier,
    )
    from flink_helloworld_spark.streaming.jobs import streaming_pretrain_front

    good = "the cat and the dog sat with a mat to rest for that while"
    bad = "#### aaaaaaaaaa #### bbbbbbbbbbbb #### cccccccccccc ####"
    train_docs = spark.createDataFrame(
        [(i, good + f" v{i}") for i in range(4)]
        + [(10 + i, bad + f" x{i}") for i in range(4)],
        "doc_id long, text string",
    )
    w = train_quality_classifier(train_docs, n_iters=8)

    rng = random.Random(seed)
    rows = _front_corpus(rng, n_domains=50)
    texts = sorted({t for _, _, t in rows})
    scored = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    score_of = dict(
        zip(
            texts,
            [
                r.quality_score
                for r in attach_quality_score(scored, w)
                .orderBy("doc_id")
                .collect()
            ],
        )
    )
    gate_scores = sorted(
        score_of[t] for t in {t for _, _, t in rows if _model_gate(t)}
    )
    thr = gate_scores[len(gate_scores) // 2]  # median: both sides populated

    workdir = tempfile.mkdtemp(prefix=f"front-clf-fuzz-{seed}-")
    try:
        _write_front_files(rows, workdir)
        out = streaming_pretrain_front(
            _read_front_stream(spark, workdir),
            domain_cap=2,
            classifier_weights=w,
            classifier_threshold=thr,
        )
        got = {
            r.doc_id: (r.source, r.domain_rank, r.kept)
            for r in run_available_now(out, f"front_clf_fuzz_{seed}")
        }
        expect = _model_front(
            rows,
            cap=2,
            keep=lambda t: _model_gate(t) and score_of[t] >= thr,
        )
        assert got == expect
        assert len(expect) >= 50
        # the classifier gate actually dropped gate-surviving docs
        dropped_by_clf = [
            t for _, _, t in rows if _model_gate(t) and score_of[t] < thr
        ]
        assert dropped_by_clf
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@pytest.mark.slow
def test_streaming_manifest_equals_batch_for_random_docs_and_splits(spark):
    """PROPERTY: for random documents (including empty/whitespace text
    and skewed ids) under a random partition into micro-batches, the
    streaming shard manifest equals the batch recompute bit-for-bit —
    the manifest algebra (add / min / max / XOR) has no order or
    batching dependence."""
    import random

    from flink_helloworld_spark.operators.layout import shard_manifest
    from flink_helloworld_spark.streaming.jobs import (
        streaming_shard_manifest_job,
    )

    words = ["alpha", "beta", "gamma", "delta", ""]
    for seed in range(5):
        rng = random.Random(1000 + seed)
        n = rng.randint(20, 120)
        rows = [
            (
                rng.randint(0, 10**9),
                " ".join(rng.choice(words) for _ in range(rng.randint(0, 12))),
            )
            for _ in range(n)
        ]
        # random batch split: 1..6 batches, arbitrary sizes
        cuts = sorted(rng.sample(range(1, n), rng.randint(0, min(5, n - 1))))
        batches, prev = [], 0
        for c in cuts + [n]:
            batches.append(rows[prev:c])
            prev = c
        workdir = tempfile.mkdtemp(prefix=f"manifest-fuzz-{seed}-")
        try:
            t0 = _time.time() - 60
            for i, b in enumerate(batches):
                path = os.path.join(workdir, f"b{i:02d}.parquet")
                pd.DataFrame(b, columns=["doc_id", "text"]).to_parquet(
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
                f"manifest_fuzz_{seed}",
                output_mode="update",
            )
            final = {}
            for r in out:
                final[r.shard_id] = (
                    r.n_docs, r.total_tokens, r.min_id, r.max_id, r.fingerprint
                )
            batch_df = spark.createDataFrame(rows, "doc_id long, text string")
            expect = {
                r.shard_id: (
                    r.n_docs, r.total_tokens, r.min_id, r.max_id, r.fingerprint
                )
                for r in shard_manifest(batch_df, shards=4).collect()
            }
            assert final == expect, f"seed {seed}"
        finally:
            shutil.rmtree(workdir, ignore_errors=True)


def _py_lsh_verdicts(
    docs: list[tuple[int, str]], num_hashes: int = 12, bands: int = 4, n: int = 3
) -> dict[int, tuple[int, int, bool]]:
    """Independent pure-Python model of the whole LSH first-arrival
    pipeline (shingle -> md5 base hash -> affine minima -> band keys ->
    first-on-every-bucket), mirroring dedup.py's portable-arithmetic
    contract without any Spark/DuckDB machinery."""
    import hashlib

    from flink_helloworld_spark.operators.dedup import MINHASH_P, MINHASH_PARAMS

    rows_per = num_hashes // bands
    doc_buckets: dict[int, list[tuple[int, str]]] = {}
    for doc_id, text in docs:
        ws = [w for w in text.split(" ") if w != ""]
        sh = {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)} if len(ws) >= n else set()
        if not sh:
            doc_buckets[doc_id] = []
            continue
        hm = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P
            for s in sh
        ]
        sig = [
            min((h * a + b) % MINHASH_P for h in hm)
            for a, b in MINHASH_PARAMS[:num_hashes]
        ]
        doc_buckets[doc_id] = [
            (
                b,
                hashlib.md5(
                    "|".join(
                        str(sig[b * rows_per + r]) for r in range(rows_per)
                    ).encode()
                ).hexdigest(),
            )
            for b in range(bands)
        ]
    first: dict[tuple[int, str], int] = {}
    for doc_id, bks in doc_buckets.items():
        for bk in bks:
            if bk not in first or doc_id < first[bk]:
                first[bk] = doc_id
    out = {}
    for doc_id, bks in doc_buckets.items():
        n_first = sum(1 for bk in bks if first[bk] == doc_id)
        out[doc_id] = (len(bks), n_first, len(bks) == n_first)
    return out


@pytest.mark.parametrize("seed", [11, 47])
def test_streaming_lsh_dedup_matches_python_model(spark, seed):
    """Random corpora (verbatim copies, one-word mutations, shingle-less
    shorts) through the TWO-stage streaming LSH gate in ordered random
    micro-batch slices: every verdict must equal the independent
    pure-Python pipeline model — and hence the batch operator, whose
    oracle pins the same rule in DuckDB."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import streaming_lsh_dedup

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    docs: list[tuple[int, str]] = []
    for doc_id in range(70):
        r = rng.random()
        if docs and r < 0.25:
            text = rng.choice(docs)[1]  # verbatim copy
        elif docs and r < 0.40:
            base_ws = rng.choice(docs)[1].split(" ")
            if base_ws:
                base_ws[rng.randrange(len(base_ws))] = rng.choice(vocab)
            text = " ".join(base_ws)  # one-word mutation
        elif r < 0.50:
            text = " ".join(rng.choices(vocab, k=rng.randint(0, 2)))  # short
        else:
            text = " ".join(rng.choices(vocab, k=rng.randint(3, 10)))
        docs.append((doc_id, text))

    want = _py_lsh_verdicts(docs)

    # ordered slices (in-order contract: doc_id monotone in arrival)
    cuts = sorted(rng.sample(range(1, len(docs)), 5))
    batches = [
        [{"doc_id": d, "text": t} for d, t in docs[a:b]]
        for a, b in zip([0] + cuts, cuts + [len(docs)])
    ]
    workdir = tempfile.mkdtemp(prefix=f"lsh-prop-{seed}-")
    _write_files(batches, workdir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    rows = run_available_now(streaming_lsh_dedup(stream), f"lsh_prop_{seed}")
    got = {r.doc_id: (r.n_bands, r.n_first, r.kept) for r in rows}
    assert got == want


@pytest.mark.parametrize("seed", [101])
def test_streaming_near_dedup_front_matches_sequential_model(spark, seed):
    """The composed gate -> LSH near-dup -> domain-cap front (THREE
    chained TWS operators, two re-key seams, ONE query) on a random
    multi-domain corpus in random ordered micro-batch slices: output
    must match the sequential composition of the three batch rules."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import streaming_near_dedup_front

    rng = random.Random(seed)
    vocab = [f"word{i}" for i in range(10)]  # len 5-6: mean_wlen in band
    domains = ["a", "b", "c"]
    docs: list[dict] = []
    for doc_id in range(60):
        r = rng.random()
        if docs and r < 0.3:
            text = rng.choice(docs)["text"]  # duplicate
        elif r < 0.4:
            text = " ".join(rng.choices(vocab, k=rng.randint(0, 3)))  # gate-fail
        elif r < 0.5:
            text = "x " * 30  # mean_wlen 1.97 -> gate-fail
        else:
            text = " ".join(rng.choices(vocab, k=rng.randint(5, 12)))
        docs.append(
            {"doc_id": doc_id, "text": text.rstrip(), "source": rng.choice(domains)}
        )

    # sequential model of the composed rules
    def words(t):
        return [w for w in t.split(" ") if w != ""]

    def gate(t):
        ws = words(t)
        if len(ws) < 5:
            return False
        mw = (len(t) - (len(ws) - 1)) / len(ws)
        return 3.0 <= mw <= 10.0

    gated = [d for d in docs if gate(d["text"])]
    lsh = _py_lsh_verdicts([(d["doc_id"], d["text"]) for d in gated])
    counts: dict[str, int] = {}
    expect = {}
    for d in gated:
        if not lsh[d["doc_id"]][2]:
            continue
        counts[d["source"]] = counts.get(d["source"], 0) + 1
        expect[d["doc_id"]] = (
            d["source"], counts[d["source"]], counts[d["source"]] <= 2
        )

    cuts = sorted(rng.sample(range(1, len(docs)), 4))
    batches = [docs[a:b] for a, b in zip([0] + cuts, cuts + [len(docs)])]
    workdir = tempfile.mkdtemp(prefix=f"nddf-{seed}-")
    _write_files(batches, workdir)
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_near_dedup_front(stream, cap=2)
    got = {
        r.doc_id: (r.source, r.domain_rank, r.kept)
        for r in run_available_now(out, f"nddf_{seed}")
    }
    assert got == expect


def test_streaming_embedding_dedup_matches_batch_twin(spark):
    """The embedding-space hyperplane gate: streamed over id-ordered
    micro-batches it must admit exactly the vectors the batch twin
    (similarity.embedding_first_arrival) keeps over the union — and on
    planted clusterable vectors it must actually DROP colliders (a gate
    that keeps everything tests nothing)."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.similarity import (
        embedding_first_arrival,
        planted_embeddings,
    )
    from flink_helloworld_spark.streaming.tws import streaming_embedding_dedup

    ids = spark.range(96).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
    )
    planted = planted_embeddings(ids).select("vec_id", "embedding")
    expect = {
        r.vec_id: (r.bucket, r.kept)
        for r in embedding_first_arrival(planted, planes=8).collect()
    }
    assert sum(1 for b, k in expect.values() if k) < 96  # colliders exist

    rows = sorted(
        (
            {"vec_id": r.vec_id, "embedding": list(r.embedding)}
            for r in planted.collect()
        ),
        key=lambda r: r["vec_id"],  # id-monotone arrival order
    )
    batches = [rows[0:32], rows[32:64], rows[64:96]]
    workdir = tempfile.mkdtemp(prefix="embgate-")
    _write_files(batches, workdir)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_embedding_dedup(stream, planes=8)
    got = {
        r.vec_id: (r.bucket, r.kept)
        for r in run_available_now(out, "embgate")
    }
    assert got == expect


def test_streaming_embedding_dedup_banded_matches_batch_twin(spark):
    """The banded (OR-construction) embedding gate: streamed over
    id-ordered micro-batches it must emit exactly the batch twin's
    (n_bands, n_first, kept) verdicts over the union — and the planted
    colliders must include docs dropped by a LATER band than band 0
    (otherwise the multi-band topology is untested)."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.similarity import (
        embedding_first_arrival_banded,
        planted_embeddings,
    )
    from flink_helloworld_spark.streaming.tws import (
        streaming_embedding_dedup_banded,
    )

    ids = spark.range(96).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
    )
    planted = planted_embeddings(ids).select("vec_id", "embedding")
    expect = {
        r.vec_id: (r.n_bands, r.n_first, r.kept)
        for r in embedding_first_arrival_banded(
            planted, planes=8, bands=3
        ).collect()
    }
    dropped = {i for i, (_, _, k) in expect.items() if not k}
    assert dropped  # colliders exist
    # some doc must be first on band 0 yet dropped by a later band —
    # i.e. 0 < n_first < n_bands for at least one doc
    assert any(0 < nf < nb for nb, nf, k in expect.values() if not k)

    rows = sorted(
        (
            {"vec_id": r.vec_id, "embedding": list(r.embedding)}
            for r in planted.collect()
        ),
        key=lambda r: r["vec_id"],  # id-monotone arrival order
    )
    batches = [rows[0:32], rows[32:64], rows[64:96]]
    workdir = tempfile.mkdtemp(prefix="embgateband-")
    _write_files(batches, workdir)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_embedding_dedup_banded(stream, planes=8, bands=3)
    got = {
        r.vec_id: (r.n_bands, r.n_first, r.kept)
        for r in run_available_now(out, "embgateband")
    }
    assert got == expect


def test_streaming_embedding_dedup_verified_matches_batch_twin(spark):
    """The VERIFIED streaming gate: streamed over id-ordered
    micro-batches its verdicts must map doc-for-doc onto the batch
    twin's — n_first = bands − n_verified, same kept set — and the
    planted data must exercise BOTH collision outcomes (some collisions
    verify and drop, some fail the cosine check and are forgiven;
    otherwise the verification path is untested)."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.similarity import (
        embedding_first_arrival_verified,
        planted_embeddings,
    )
    from flink_helloworld_spark.streaming.tws import (
        streaming_embedding_dedup_verified,
    )

    bands, planes, thr = 3, 6, 0.9
    ids = spark.range(96).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
    )
    planted = planted_embeddings(ids).select("vec_id", "embedding")
    batch_rows = embedding_first_arrival_verified(
        planted, threshold=thr, planes=planes, bands=bands
    ).collect()
    expect = {
        r.vec_id: (bands, bands - r.n_verified, r.kept) for r in batch_rows
    }
    # both outcomes exercised: forgiven collisions AND verified drops
    assert any(r.n_collisions > r.n_verified for r in batch_rows)
    assert any(r.n_verified > 0 for r in batch_rows)
    assert any(r.kept and r.n_collisions > 0 for r in batch_rows)

    rows = sorted(
        (
            {"vec_id": r.vec_id, "embedding": list(r.embedding)}
            for r in planted.collect()
        ),
        key=lambda r: r["vec_id"],  # id-monotone arrival order
    )
    batches = [rows[0:32], rows[32:64], rows[64:96]]
    workdir = tempfile.mkdtemp(prefix="embgatever-")
    _write_files(batches, workdir)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_embedding_dedup_verified(
        stream, threshold=thr, planes=planes, bands=bands
    )
    got = {
        r.vec_id: (r.n_bands, r.n_first, r.kept)
        for r in run_available_now(out, "embgatever")
    }
    assert got == expect


def test_streaming_verified_gate_sq_codes_match_batch_sq_twin(spark):
    """The QUANTIZED-owner verified gate (VERDICT r7 item 3): with the
    per-dim SQ8 stats trained offline (one bounded collect of
    sq_quantize's stats — the FAISS quantizer-training shape) the
    streaming gate stores ~dims BYTES of owner codes instead of dims
    float64s, and its verdicts must map doc-for-doc onto the batch
    twin's sq=True form (which reconstructs the owner through the SAME
    codes). The planted data must exercise both collision outcomes."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.similarity import (
        embedding_first_arrival_verified,
        planted_embeddings,
        sq_quantize,
    )
    from flink_helloworld_spark.streaming.tws import (
        streaming_embedding_dedup_verified,
    )

    bands, planes, thr = 3, 6, 0.9
    ids = spark.range(96).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
    )
    planted = planted_embeddings(ids).select("vec_id", "embedding")
    batch_rows = embedding_first_arrival_verified(
        planted, threshold=thr, planes=planes, bands=bands, sq=True
    ).collect()
    expect = {
        r.vec_id: (bands, bands - r.n_verified, r.kept) for r in batch_rows
    }
    assert any(r.n_collisions > r.n_verified for r in batch_rows)
    assert any(r.n_verified > 0 for r in batch_rows)

    # offline SQ training: ONE stats row (2 x dims doubles), the
    # bounded-collect contract every index artifact here follows
    stats = sq_quantize(planted).select("mn", "scale").first()

    rows = sorted(
        (
            {"vec_id": r.vec_id, "embedding": list(r.embedding)}
            for r in planted.collect()
        ),
        key=lambda r: r["vec_id"],
    )
    batches = [rows[0:32], rows[32:64], rows[64:96]]
    workdir = tempfile.mkdtemp(prefix="embgatesq-")
    _write_files(batches, workdir)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_embedding_dedup_verified(
        stream,
        threshold=thr,
        planes=planes,
        bands=bands,
        sq_mn=list(stats.mn),
        sq_scale=list(stats.scale),
    )
    got = {
        r.vec_id: (r.n_bands, r.n_first, r.kept)
        for r in run_available_now(out, "embgatesq")
    }
    assert got == expect


def test_streaming_verified_gate_tolerates_malformed_vectors(spark):
    """ADVICE r7: a null or wrong-length embedding must NOT kill the
    streaming query — malformed rows are unverifiable, so they are
    forgiven (kept), exactly like the batch twin's null-cosine rule.
    Valid rows' verdicts must match the batch twin computed over the
    same mixed input."""
    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.similarity import (
        embedding_first_arrival_verified,
        planted_embeddings,
    )
    from flink_helloworld_spark.streaming.tws import (
        streaming_embedding_dedup_verified,
    )

    bands, planes, thr = 3, 6, 0.9
    ids = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
    )
    planted = planted_embeddings(ids).select("vec_id", "embedding")
    rows = sorted(
        (
            {"vec_id": r.vec_id, "embedding": list(r.embedding)}
            for r in planted.collect()
        ),
        key=lambda r: r["vec_id"],
    )
    # id-interleaved malformed rows: a null and a ragged vector
    rows.append({"vec_id": 100, "embedding": None})
    rows.append({"vec_id": 101, "embedding": [0.5, 0.25, 0.125]})
    mixed = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows],
        "vec_id long, embedding array<double>",
    )
    expect = {
        r.vec_id: (bands, bands - r.n_verified, r.kept)
        for r in embedding_first_arrival_verified(
            mixed, threshold=thr, planes=planes, bands=bands
        ).collect()
    }
    assert expect[100][2] and expect[101][2]  # malformed rows forgiven

    workdir = tempfile.mkdtemp(prefix="embgatebad-")
    _write_files([rows[0:21], rows[21:]], workdir)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_embedding_dedup_verified(
        stream, threshold=thr, planes=planes, bands=bands
    )
    got = {
        r.vec_id: (r.n_bands, r.n_first, r.kept)
        for r in run_available_now(out, "embgatebad")
    }
    assert got == expect


def test_lsh_gate_bucket_state_resumes_from_checkpoint(spark):
    """LSH-gate durability across the TWO chained TWS operators: run
    batch 1 with a checkpoint, stop, append batch 2 containing a
    duplicate of a batch-1 doc, restart from the checkpoint — the
    restored bucket-claim state must drop the cross-restart duplicate,
    and run-1 verdicts must not re-emit."""
    import os

    import pandas as pd

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import streaming_lsh_dedup

    workdir = tempfile.mkdtemp(prefix="lsh-resume-in-")
    out_dir = tempfile.mkdtemp(prefix="lsh-resume-out-")
    ck = tempfile.mkdtemp(prefix="lsh-resume-ck-")
    base = "the quick brown fox jumps over the lazy dog near the river bank"

    def put(i, rows):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(p, index=False)
        os.utime(p, (_time.time() - 60 + i, _time.time() - 60 + i))

    def run_once():
        raw = spark.readStream.schema("doc_id long, text string").parquet(workdir)
        q = (
            streaming_lsh_dedup(raw)
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
        return sorted(
            (r.doc_id, r.kept) for r in spark.read.parquet(out_dir).collect()
        )

    put(0, [(1, base), (2, "unrelated streaming engine words entirely")])
    assert run_once() == [(1, True), (2, True)]
    put(1, [(3, base), (4, "completely fresh document text here")])
    # doc 3 duplicates doc 1 ACROSS the restart: only the restored
    # bucket state can know that; run-1 rows appear exactly once
    assert run_once() == [(1, True), (2, True), (3, False), (4, True)]


@pytest.mark.slow
def test_verified_gate_state_ttl_bounds_the_dedup_horizon(spark, drain):
    """`state_ttl_ms` on the VERIFIED embedding gate (ADVICE r7: the
    heaviest-state gate previously had no bounded horizon): an expired
    owner forgets, so a same-vector arrival after the horizon is
    re-admitted (run A, tiny TTL + wall sleep); a generous TTL drops it
    as a verified collision (run B), exactly like the unbounded gate."""
    import os

    import pandas as pd

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.similarity import (
        planted_embeddings,
    )
    from flink_helloworld_spark.streaming.tws import (
        streaming_embedding_dedup_verified,
    )

    ids = spark.range(2).select(
        F.lit(0).cast("long").alias("vec_id"),
        F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
    ).limit(1)
    vec = list(
        planted_embeddings(ids).select("embedding").first().embedding
    )

    def put(workdir, i, rows):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
            p, index=False
        )
        os.utime(p, (_time.time() - 60 + i, _time.time() - 60 + i))

    def run_once(workdir, ck, out_dir, ttl_ms):
        raw = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).parquet(workdir)
        q = (
            streaming_embedding_dedup_verified(
                raw, threshold=0.9, planes=6, bands=3, state_ttl_ms=ttl_ms
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        return sorted(
            (r.vec_id, r.kept) for r in spark.read.parquet(out_dir).collect()
        )

    for ttl_ms, sleep_s, dup_kept in ((1_000, 3.0, True), (3_600_000, 0.0, False)):
        workdir = tempfile.mkdtemp(prefix="ver-ttl-in-")
        out_dir = tempfile.mkdtemp(prefix="ver-ttl-out-")
        ck = tempfile.mkdtemp(prefix="ver-ttl-ck-")
        put(workdir, 0, [(1, vec)])
        assert run_once(workdir, ck, out_dir, ttl_ms) == [(1, True)]
        if sleep_s:
            _time.sleep(sleep_s)  # let the 1s TTL lapse between runs
        # identical vector: collision verifies at cosine 1.0 >= 0.9
        put(workdir, 1, [(2, vec)])
        got = run_once(workdir, ck, out_dir, ttl_ms)
        assert got == [(1, True), (2, dup_kept)], (ttl_ms, got)


@pytest.mark.slow
def test_lsh_gate_state_ttl_bounds_the_dedup_horizon(spark, drain):
    """`state_ttl_ms` on the LSH gate: an EXPIRED bucket claim forgets
    its first arrival, so the same near-dup text is admitted again after
    the horizon — the state-size/recall dial of an unbounded ingest.
    Contrast run A (tiny TTL + wall sleep: duplicate re-admitted) with
    run B (generous TTL: behaves exactly like the unbounded gate and
    drops the duplicate)."""
    import os

    import pandas as pd

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import streaming_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank"

    def put(workdir, i, rows):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(p, index=False)
        os.utime(p, (_time.time() - 60 + i, _time.time() - 60 + i))

    def run_once(workdir, ck, out_dir, ttl_ms):
        raw = spark.readStream.schema("doc_id long, text string").parquet(workdir)
        q = (
            streaming_lsh_dedup(raw, state_ttl_ms=ttl_ms)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        return sorted(
            (r.doc_id, r.kept) for r in spark.read.parquet(out_dir).collect()
        )

    for ttl_ms, sleep_s, dup_kept in ((1_000, 3.0, True), (3_600_000, 0.0, False)):
        workdir = tempfile.mkdtemp(prefix="lsh-ttl-in-")
        out_dir = tempfile.mkdtemp(prefix="lsh-ttl-out-")
        ck = tempfile.mkdtemp(prefix="lsh-ttl-ck-")
        put(workdir, 0, [(1, base)])
        assert run_once(workdir, ck, out_dir, ttl_ms) == [(1, True)]
        if sleep_s:
            _time.sleep(sleep_s)  # let the 1s TTL lapse between runs
        put(workdir, 1, [(2, base)])
        got = run_once(workdir, ck, out_dir, ttl_ms)
        assert got == [(1, True), (2, dup_kept)], (ttl_ms, got)


@pytest.mark.slow
def test_lsh_gate_ttl_expiry_and_reclaim_survive_checkpoint_recovery(spark, drain):
    """The full TTL'd-claim lifecycle ACROSS restarts (VERDICT r5 item
    5) — the exact path a long-running ingest hits weekly:

      run 1: doc 1 claims its buckets (TTL'd ValueState, 1s TTL).
      [TTL lapses while the query is DOWN]
      run 2: doc 2 (same text) — restored-then-expired claims must
             RE-ADMIT it, and the re-admission must write a FRESH claim
             into the recovered state store (1h TTL this run).
      run 3: doc 3 (same text, within the new TTL) — must be dropped as
             a duplicate of doc 2's RE-CLAIM, and no earlier verdict
             re-emits.

    Pins that expiry, re-admission, and the re-claimed state all
    compose with checkpoint recovery, not just within one run.

    Why the TTL differs per run: a claim's expiration is stamped at
    WRITE time, so re-opening the same checkpoint with a longer TTL
    still sees run-1's claim as expired while giving run-2's re-claim a
    horizon that comfortably outlives run-3's startup latency — the
    deterministic way to sequence expiry and survival in one test
    (fixed small TTLs race against query-startup wall-clock)."""
    import os

    import pandas as pd

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import streaming_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    workdir = tempfile.mkdtemp(prefix="lsh-ttlre-in-")
    out_dir = tempfile.mkdtemp(prefix="lsh-ttlre-out-")
    ck = tempfile.mkdtemp(prefix="lsh-ttlre-ck-")

    def put(i, rows):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(p, index=False)
        os.utime(p, (_time.time() - 60 + i, _time.time() - 60 + i))

    def run_once(ttl_ms):
        raw = spark.readStream.schema("doc_id long, text string").parquet(workdir)
        q = (
            streaming_lsh_dedup(raw, state_ttl_ms=ttl_ms)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        return sorted(
            (r.doc_id, r.kept) for r in spark.read.parquet(out_dir).collect()
        )

    put(0, [(1, base)])
    assert run_once(ttl_ms=1_000) == [(1, True)]
    _time.sleep(3.0)  # claim expires while the query is down
    put(1, [(2, base)])
    # expired claim forgets doc 1 => doc 2 re-admitted AND re-claims
    assert run_once(ttl_ms=3_600_000) == [(1, True), (2, True)]
    put(2, [(3, base)])
    # doc 2's re-claim is live state in the recovered store: doc 3 (well
    # inside the fresh TTL) must dedup against it across this restart
    got = run_once(ttl_ms=3_600_000)
    assert got == [(1, True), (2, True), (3, False)], got


@pytest.mark.slow
def test_banded_gate_ttl_expiry_and_reclaim_survive_checkpoint_recovery(spark, drain):
    """The same TTL'd-claim lifecycle across restarts for the BANDED
    embedding gate: a vector's claims live in ``bands`` independent
    (band, bucket) keys, and the expire → re-admit → re-claim → re-dedup
    sequence must hold for ALL of them together (a single surviving
    band claim would wrongly drop the re-admission; a single expired one
    wrongly admits the later duplicate)."""
    import os

    import pandas as pd

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import (
        streaming_embedding_dedup_banded,
    )

    vec = [round(0.1 * (d % 7) - 0.3, 2) for d in range(16)]
    workdir = tempfile.mkdtemp(prefix="embband-ttlre-in-")
    out_dir = tempfile.mkdtemp(prefix="embband-ttlre-out-")
    ck = tempfile.mkdtemp(prefix="embband-ttlre-ck-")

    def put(i, rows):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
            p, index=False
        )
        os.utime(p, (_time.time() - 60 + i, _time.time() - 60 + i))

    def run_once(ttl_ms):
        raw = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).parquet(workdir)
        q = (
            streaming_embedding_dedup_banded(
                raw, planes=4, bands=3, dims=16, state_ttl_ms=ttl_ms
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        return sorted(
            (r.vec_id, r.n_first, r.kept)
            for r in spark.read.parquet(out_dir).collect()
        )

    put(0, [(1, vec)])
    assert run_once(ttl_ms=1_000) == [(1, 3, True)]
    _time.sleep(3.0)  # ALL band claims expire while the query is down
    put(1, [(2, vec)])
    # every band's expired claim forgets vec 1 => vec 2 re-admitted on
    # ALL bands (n_first == bands) and re-claims each bucket
    assert run_once(ttl_ms=3_600_000) == [(1, 3, True), (2, 3, True)]
    put(2, [(3, vec)])
    # vec 2's re-claims are live in the recovered store on EVERY band:
    # the identical vec 3 must lose all three firsts across this restart
    got = run_once(ttl_ms=3_600_000)
    assert got == [(1, 3, True), (2, 3, True), (3, 0, False)], got


def _hh_feed(spark, frames, schema="item string"):
    import os
    import tempfile
    import time as _time

    workdir = tempfile.mkdtemp(prefix="hh-")
    t0 = _time.time() - 60
    for i, pdf in enumerate(frames):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )


def _hh_final(rows):
    """max-n_seen emission per bucket = the live sketch snapshot."""
    latest: dict[int, int] = {}
    for r in rows:
        latest[r.bucket] = max(latest.get(r.bucket, -1), r.n_seen)
    return [r for r in rows if r.n_seen == latest[r.bucket]]


def test_streaming_heavy_hitters_exact_under_capacity(spark):
    """Distinct items within capacity -> the MG sketch IS the exact
    count (err_total 0), state surviving the micro-batch boundary."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_heavy_hitters

    frames = [
        pd.DataFrame({"item": ["a"] * 5 + ["b"] * 2 + ["c"]}),
        pd.DataFrame({"item": ["a"] * 3 + ["c"] * 4}),
    ]
    stream = _hh_feed(spark, frames)
    out = streaming_heavy_hitters(stream, "item", capacity=8, n_buckets=2)
    rows = _hh_final(run_available_now(out, "hh_exact"))
    got = {r.item: r.weight for r in rows}
    assert got == {"a": 8, "b": 2, "c": 5}
    assert all(r.err_total == 0 for r in rows)


@pytest.mark.slow
def test_streaming_heavy_hitters_mg_bounds_over_capacity(spark):
    """Over capacity the deterministic MG guarantees hold for any
    batch split: weight <= true <= weight + err_total, and every item
    with true count > n_seen/(capacity+1) is tracked."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_heavy_hitters

    # deterministic skewed stream: item f"i{j}" appears 2^(6-j) times
    # for j in 0..5 plus a long tail of singletons
    items = []
    for j in range(6):
        items += [f"i{j}"] * (2 ** (6 - j))
    items += [f"tail{t}" for t in range(60)]
    # interleave deterministically so batches mix head and tail
    items = [items[i] for i in range(0, len(items), 2)] + [
        items[i] for i in range(1, len(items), 2)
    ]
    true = {}
    for it in items:
        true[it] = true.get(it, 0) + 1

    for n_frames in (1, 4):
        sz = (len(items) + n_frames - 1) // n_frames
        frames = [
            pd.DataFrame({"item": items[i * sz : (i + 1) * sz]})
            for i in range(n_frames)
        ]
        cap = 8
        stream = _hh_feed(spark, frames)
        out = streaming_heavy_hitters(
            stream, "item", capacity=cap, n_buckets=1
        )
        rows = _hh_final(run_available_now(out, f"hh_mg_{n_frames}"))
        assert rows, "sketch emitted nothing"
        n_seen = rows[0].n_seen
        assert n_seen == len(items)
        err = rows[0].err_total
        assert 0 < err < n_seen
        tracked = {r.item: r.weight for r in rows}
        assert len(tracked) <= cap
        for item, w in tracked.items():
            assert w <= true[item] <= w + err, (n_frames, item)
        for item, cnt in true.items():
            if cnt > n_seen / (cap + 1):
                assert item in tracked, (n_frames, item)


def test_streaming_heavy_hitters_buckets_partition_items(spark):
    """Sharding: every occurrence of an item lands in one bucket, and
    per-bucket n_seen sums to the stream length."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_heavy_hitters

    items = [f"k{i % 17}" for i in range(200)]
    frames = [
        pd.DataFrame({"item": items[:100]}),
        pd.DataFrame({"item": items[100:]}),
    ]
    stream = _hh_feed(spark, frames)
    out = streaming_heavy_hitters(stream, "item", capacity=32, n_buckets=4)
    rows = _hh_final(run_available_now(out, "hh_buckets"))
    by_item_buckets: dict[str, set[int]] = {}
    for r in rows:
        by_item_buckets.setdefault(r.item, set()).add(r.bucket)
    assert all(len(b) == 1 for b in by_item_buckets.values())
    n_per_bucket = {r.bucket: r.n_seen for r in rows}
    assert sum(n_per_bucket.values()) == 200
    # under-capacity everywhere -> exact counts reassemble the stream
    got = {r.item: r.weight for r in rows}
    assert got == {f"k{j}": (12 if j < 13 else 11) for j in range(17)}


def test_heavy_hitters_state_resumes_from_checkpoint(spark):
    """MG sketch durability: counts accumulated in run 1 must seed the
    merge step after a restart — the cross-restart total is exact while
    under capacity, which only restored state can produce."""
    import os
    import tempfile
    import time as _time

    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import streaming_heavy_hitters

    workdir = tempfile.mkdtemp(prefix="hh-resume-in-")
    out_dir = tempfile.mkdtemp(prefix="hh-resume-out-")
    ck = tempfile.mkdtemp(prefix="hh-resume-ck-")

    def put(i, items):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame({"item": items}).to_parquet(p, index=False)
        os.utime(p, (_time.time() - 60 + i, _time.time() - 60 + i))

    def run_once():
        raw = spark.readStream.schema("item string").parquet(workdir)
        q = (
            streaming_heavy_hitters(raw, "item", capacity=8, n_buckets=1)
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
        n_max = max(r.n_seen for r in rows)
        return {r.item: r.weight for r in rows if r.n_seen == n_max}, n_max

    put(0, ["a"] * 4 + ["b"] * 2)
    got, n = run_once()
    assert got == {"a": 4, "b": 2} and n == 6
    put(1, ["a"] * 3 + ["c"])
    got, n = run_once()
    # run-1 counts survived the restart: totals are exact cross-restart
    assert got == {"a": 7, "b": 2, "c": 1} and n == 10


@pytest.mark.slow
def test_streaming_kmv_matches_batch_exactly_any_split(spark):
    """KMV is order-independent: the streaming sketch after ANY batch
    split is BIT-IDENTICAL to batch kmv_distinct over the same rows —
    including the saturated estimator, not just under-k exactness."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.operators.rollups import kmv_distinct
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_kmv_distinct

    # two groups; group 'a' saturates k=8, group 'b' stays exact
    rows = [("a", f"v{i % 40}") for i in range(160)] + [
        ("b", f"w{i}") for i in range(5)
    ]
    batch_df = spark.createDataFrame(rows, "g string, val string")
    expected = {
        r.g: r
        for r in kmv_distinct(batch_df, "g", "val", k=8).collect()
    }
    assert expected["a"].n_kept == 8  # saturated side
    assert expected["b"].n_kept == 5  # exact side

    for n_frames in (1, 3):
        sz = (len(rows) + n_frames - 1) // n_frames
        frames = [
            pd.DataFrame(
                rows[i * sz : (i + 1) * sz], columns=["g", "val"]
            )
            for i in range(n_frames)
        ]
        stream = _hh_feed(spark, frames, schema="g string, val string")
        out = streaming_kmv_distinct(stream, "g", "val", k=8)
        got_rows = run_available_now(out, f"kmv_tws_{n_frames}")
        latest = {}
        for r in got_rows:
            if r.k not in latest or r.n_seen > latest[r.k].n_seen:
                latest[r.k] = r
        for g in ("a", "b"):
            assert latest[g].kth_min == expected[g].kth_min, n_frames
            assert latest[g].n_kept == expected[g].n_kept, n_frames
            assert (
                latest[g].distinct_estimate
                == expected[g].distinct_estimate
            ), n_frames
        assert latest["a"].n_seen == 160 and latest["b"].n_seen == 5


def test_streaming_heavy_hitters_ignores_null_items(spark):
    """Null items carry no count (the KMV twin's isNotNull contract):
    n_seen and the counters must reflect only non-null rows, keeping
    the exact-under-capacity guarantee intact."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_heavy_hitters

    frames = [pd.DataFrame({"item": ["a", None, "a", None, "b"]})]
    stream = _hh_feed(spark, frames)
    out = streaming_heavy_hitters(stream, "item", capacity=8, n_buckets=1)
    rows = _hh_final(run_available_now(out, "hh_nulls"))
    got = {r.item: r.weight for r in rows}
    assert got == {"a": 2, "b": 1}
    assert all(r.n_seen == 3 and r.err_total == 0 for r in rows)


@pytest.mark.slow
def test_streaming_ivf_ingest_matches_batch_append_any_split(spark):
    """Streaming index MAINTENANCE parity (the streaming twin of the
    r8 build/query seam): vectors arriving in ANY micro-batch split —
    including at-least-once REDELIVERY — grow the posting table to
    exactly the set ivf_index_append produces routing everything at
    once through the same frozen artifact. Routing is stateless
    against the collected quantizer; commitment is first-arrival per
    (cell, member) MapState, so duplicates post exactly once and the
    emitted mvec payload is the source vector, bit-intact."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators import similarity as S
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_ivf_ingest

    emb = S.planted_embeddings(
        spark.range(160).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
        )
    ).select("vec_id", "embedding")
    base = emb.where("vec_id % 2 = 0")
    inc = emb.where("vec_id % 2 = 1")
    index, postings = S.build_ivf_index(base)
    index = index.cache()
    expected = sorted(
        (r.centroid_id, r.member_id)
        for r in S.ivf_index_append(index, postings.limit(0), inc).collect()
    )

    rows = inc.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).collect()
    recs = [(r.vec_id, list(r.embedding)) for r in rows]
    src_vec = {r.vec_id: list(r.embedding) for r in rows}

    for n_frames in (1, 3):
        sz = (len(recs) + n_frames - 1) // n_frames
        chunks = [recs[i * sz : (i + 1) * sz] for i in range(n_frames)]
        # redelivery: the last frame re-ships the first 15 vectors
        chunks[-1] = chunks[-1] + recs[:15]
        frames = [
            pd.DataFrame(c, columns=["vec_id", "embedding"])
            for c in chunks
        ]
        stream = _hh_feed(
            spark, frames, schema="vec_id long, embedding array<double>"
        )
        out = streaming_ivf_ingest(stream, index, n_super_probe=2)
        got_rows = run_available_now(out, f"ivf_ingest_{n_frames}")
        got = sorted((r.centroid_id, r.member_id) for r in got_rows)
        # exactly once per vector despite redelivery, equal to batch
        assert len(got_rows) == len(expected), n_frames
        assert got == expected, n_frames
        assert all(
            list(r.mvec) == src_vec[r.member_id] for r in got_rows
        ), n_frames
    index.unpersist()


@pytest.mark.slow
def test_streaming_rate_anomaly_matches_batch_any_split(spark):
    """The live rate monitor equals batch rollups.rate_anomaly
    row-for-row (every closed bucket: same cnt, same exact-dyadic
    ewma_prev, same score and flag — including zero-count gap buckets)
    under in-order arrival, for ANY micro-batch split; only each key's
    final open bucket is unemitted (nothing closes it)."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.rollups import rate_anomaly
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_rate_anomaly

    rows = []
    for b in range(20):  # steady 4/bucket, then a burst, then quiet
        rows += [("A", b * 1000 + j) for j in range(4)]
    rows += [("A", 20_000 + j) for j in range(32)] + [("A", 21_500)]
    rows += [("C", 0)] + [("C", 18_000 + j) for j in range(12)]
    rows += [("C", 19_001)]  # closes C's burst bucket
    kw = dict(bucket_ms=1000, taps=16, threshold=4.0, min_count=8)

    batch_df = spark.createDataFrame(rows, "k string, ms long").withColumn(
        "ts", F.timestamp_millis(F.col("ms"))
    )
    expected = {}
    last_bucket = {}
    for r in rate_anomaly(batch_df, "k", "ts", **kw).collect():
        expected[(r.k, r.bucket)] = r
        last_bucket[r.k] = max(last_bucket.get(r.k, -1), r.bucket)
    for k, b in last_bucket.items():  # streaming never closes the tail
        del expected[(k, b)]
    assert any(v.is_anomaly for v in expected.values())

    for n_frames in (1, 4):
        sz = (len(rows) + n_frames - 1) // n_frames
        frames = [
            pd.DataFrame(
                rows[i * sz : (i + 1) * sz], columns=["k", "ms"]
            )
            for i in range(n_frames)
        ]
        stream = _hh_feed(spark, frames, schema="k string, ms long").select(
            "k", F.timestamp_millis(F.col("ms")).alias("ts")
        )
        out = streaming_rate_anomaly(stream, "k", "ts", **kw)
        got = {
            (r.k, r.bucket): r
            for r in run_available_now(out, f"rate_anom_{n_frames}")
        }
        assert set(got) == set(expected), n_frames
        for key, exp in expected.items():
            g = got[key]
            assert (g.cnt, g.ewma_prev, g.score, g.is_anomaly) == (
                exp.cnt,
                exp.ewma_prev,
                exp.score,
                exp.is_anomaly,
            ), (key, n_frames)


@pytest.mark.slow
def test_streaming_rate_anomaly_late_and_overflow_channels(spark):
    """Out-of-contract arrivals are SURFACED, never silently dropped:
    an event for an already-closed bucket lands on channel='late', an
    arrival beyond the max_gap_buckets dense-fill horizon lands on
    channel='overflow' (and does not advance the kernel) — while the
    main-channel verdicts stay byte-identical to a run without the
    out-of-contract events (the W11 sideOutputLateData contract)."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_rate_anomaly

    kw = dict(
        bucket_ms=1000, taps=4, threshold=4.0, min_count=2,
        max_gap_buckets=5,
    )
    base0 = [("A", b * 1000 + j) for b in range(6) for j in range(3)]
    base1 = [("A", 6_000), ("A", 6_001)]  # closes bucket 5
    base2 = [("A", 7_000)]  # closes bucket 6
    late = [("A", 1_500), ("A", 1_600)]  # bucket 1 closed in frame 0
    overflow = [("A", 60_000)]  # gap 54 buckets > horizon 5

    def run(frames, name):
        feed = [pd.DataFrame(f, columns=["k", "ms"]) for f in frames]
        stream = _hh_feed(spark, feed, schema="k string, ms long").select(
            "k", F.timestamp_millis(F.col("ms")).alias("ts")
        )
        out = streaming_rate_anomaly(stream, "k", "ts", **kw)
        return run_available_now(out, name)

    clean = run([base0, base1, base2], "rate_chan_clean")
    mixed = run(
        [base0, late + base1 + overflow, base2], "rate_chan_mixed"
    )

    fields = ("k", "bucket", "cnt", "ewma_prev", "score", "is_anomaly")
    main = sorted(
        tuple(getattr(r, f) for f in fields)
        for r in mixed if r.channel == "main"
    )
    clean_rows = sorted(
        tuple(getattr(r, f) for f in fields) for r in clean
    )
    assert all(r.channel == "main" for r in clean)
    assert main == clean_rows  # byte-identical main verdicts
    # bucket 6 closed AFTER the overflow arrival: kernel not advanced
    assert any(r.bucket == 6_000 and r.channel == "main" for r in mixed)

    side = {
        (r.channel, r.bucket): r for r in mixed if r.channel != "main"
    }
    assert set(side) == {("late", 1_000), ("overflow", 60_000)}
    lr = side[("late", 1_000)]
    assert lr.cnt == 2  # both late events, one row per (key, bucket)
    assert lr.ewma_prev is None and lr.score is None
    assert lr.is_anomaly is None
    ov = side[("overflow", 60_000)]
    assert ov.cnt == 1 and ov.ewma_prev is None


@pytest.mark.slow
def test_streaming_rate_anomaly_corrupt_first_arrival_reanchors(spark):
    """A key whose FIRST-ever event carries a corrupt far-future
    timestamp must not stall the key forever (every legitimate event
    routing to 'late' with no main-channel verdicts): once a
    legitimate event lands more than max_gap_buckets BELOW an open
    bucket that has produced no verdict, the anchor is surfaced on
    the overflow channel and the key re-anchors — main verdicts are
    then byte-identical to a run without the corrupt event."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_rate_anomaly

    kw = dict(
        bucket_ms=1000, taps=4, threshold=4.0, min_count=2,
        max_gap_buckets=5,
    )
    corrupt = [("A", 60_000_000)]  # first arrival, 60k buckets ahead
    base0 = [("A", b * 1000 + j) for b in range(6) for j in range(3)]
    base1 = [("A", 6_000), ("A", 6_001)]  # closes bucket 5

    def run(frames, name):
        feed = [pd.DataFrame(f, columns=["k", "ms"]) for f in frames]
        stream = _hh_feed(spark, feed, schema="k string, ms long").select(
            "k", F.timestamp_millis(F.col("ms")).alias("ts")
        )
        out = streaming_rate_anomaly(stream, "k", "ts", **kw)
        return run_available_now(out, name)

    clean = run([base0, base1], "rate_anchor_clean")
    poisoned = run([corrupt, base0, base1], "rate_anchor_poisoned")

    fields = ("k", "bucket", "cnt", "ewma_prev", "score", "is_anomaly")
    main = sorted(
        tuple(getattr(r, f) for f in fields)
        for r in poisoned if r.channel == "main"
    )
    clean_rows = sorted(
        tuple(getattr(r, f) for f in fields) for r in clean
    )
    assert all(r.channel == "main" for r in clean)
    assert len(clean_rows) == 6  # buckets 0..5 closed
    assert main == clean_rows  # the key recovered, verdicts identical
    side = [r for r in poisoned if r.channel != "main"]
    assert [(r.channel, r.bucket, r.cnt) for r in side] == [
        ("overflow", 60_000_000, 1)
    ]


@pytest.mark.slow
def test_streaming_postings_ingest_delete_compose_with_store(
    spark, tmp_path
):
    """The TEXT index's streaming maintenance pair: documents arriving
    in any micro-batch split WITH redelivery emit their positional
    postings exactly once per doc (equal to the batch
    positional_postings rows, _words-tokenization parity pinned by a
    multi-space text); streamed delete ids emit one row each; and the
    two COMPOSE — appending the streamed postings to a persisted store
    and appending the streamed deletes to its set makes a probe equal
    the scan path over (base + streamed − deleted) documents."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.ranking import (
        phrase_search,
        phrase_search_indexed,
        positional_postings,
        postings_store_probe,
        postings_store_write,
    )
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import (
        streaming_postings_delete,
        streaming_postings_ingest,
    )

    base = spark.createDataFrame(
        [(1, "the data is the data"), (2, "x a y data")],
        "doc_id long, text string",
    )
    new_rows = [
        (3, "the data  returns"),  # double space: _words parity
        (4, "no match"),
        (5, ""),  # zero-token doc: emits nothing
    ]
    new_docs = spark.createDataFrame(new_rows, "doc_id long, text string")

    # ingest with redelivery across frames
    frames = [
        pd.DataFrame(new_rows[:2], columns=["doc_id", "text"]),
        pd.DataFrame(
            new_rows[1:] + new_rows[:1], columns=["doc_id", "text"]
        ),
    ]
    stream = _hh_feed(spark, frames, schema="doc_id long, text string")
    got = run_available_now(
        streaming_postings_ingest(stream), "postings_ingest"
    )
    key = lambda r: (r.term, r.doc_id, r.pos)  # noqa: E731
    assert sorted(map(key, got)) == sorted(
        map(key, positional_postings(new_docs).collect())
    )

    # delete stream: ids 2 and 3, redelivered, plus an absent id —
    # absent ids still emit (the set absorbs them; deleting nothing
    # is a no-op at read, the batch contract)
    dframes = [
        pd.DataFrame({"doc_id": [2, 9999]}),
        pd.DataFrame({"doc_id": [3, 2]}),
    ]
    dstream = _hh_feed(spark, dframes, schema="doc_id long")
    dgot = run_available_now(
        streaming_postings_delete(dstream), "postings_delete"
    )
    assert sorted(r.doc_id for r in dgot) == [2, 3, 9999]  # once each

    # compose through the persisted store
    path = str(tmp_path / "postings")
    postings_store_write(positional_postings(base), path, num_buckets=8)
    streamed_posts = spark.createDataFrame(
        [(r.term, r.doc_id, r.pos) for r in got],
        "term string, doc_id long, pos long",
    )
    postings_store_write(streamed_posts, path, num_buckets=8)
    spark.createDataFrame(
        [(r.doc_id,) for r in dgot], "doc_id long"
    ).write.mode("append").parquet(f"{path}/_deletes")

    survivors = base.unionByName(new_docs).where(
        ~F.col("doc_id").isin([2, 3])
    )
    probe = postings_store_probe(
        spark, path, ("the", "data"), num_buckets=8
    )
    assert sorted(
        map(
            tuple,
            phrase_search_indexed(
                survivors, ("the", "data"), postings=probe
            ).collect(),
        )
    ) == sorted(
        map(tuple, phrase_search(survivors, ("the", "data")).collect())
    )


@pytest.mark.slow
def test_ivf_query_over_streamed_artifact_equals_batch(spark):
    """Closes the streaming-maintenance loop end-to-end: ivf_index_query
    over (base postings ∪ STREAMED appends) returns exactly the result
    of querying the batch-appended index — the posting-set parity the
    split test pins, composed through the actual scan path."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators import similarity as S
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_ivf_ingest

    emb = S.planted_embeddings(
        spark.range(120).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
        )
    ).select("vec_id", "embedding")
    base = emb.where("vec_id % 2 = 0")
    inc = emb.where("vec_id % 2 = 1")
    index, postings = S.build_ivf_index(base)
    index = index.cache()

    rows = inc.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).collect()
    recs = [(r.vec_id, list(r.embedding)) for r in rows]
    frames = [pd.DataFrame(recs[i::2], columns=["vec_id", "embedding"])
              for i in range(2)]
    stream = _hh_feed(
        spark, frames, schema="vec_id long, embedding array<double>"
    )
    streamed = spark.createDataFrame(
        [
            (r.centroid_id, r.member_id, list(r.mvec))
            for r in run_available_now(
                streaming_ivf_ingest(stream, index), "ivf_ingest_e2e"
            )
        ],
        "centroid_id long, member_id long, mvec array<double>",
    )
    grown_stream = postings.unionByName(streamed)
    grown_batch = S.ivf_index_append(index, postings, inc)
    queries = emb.where("vec_id % 10 = 0")
    got = sorted(map(tuple, S.ivf_index_query(
        index, grown_stream, queries, k=5, n_probe=2, n_super_probe=2
    ).collect()))
    want = sorted(map(tuple, S.ivf_index_query(
        index, grown_batch, queries, k=5, n_probe=2, n_super_probe=2
    ).collect()))
    assert got == want and len(got) > 0
    index.unpersist()


@pytest.mark.slow
def test_streaming_ivf_delete_exactly_once_and_composes(spark):
    """The streaming retraction twin: delete ids arriving in ANY
    micro-batch split WITH redelivery emit exactly one tombstone per
    (cell, member), equal to the batch ivf_index_delete tombstone set;
    absent ids are no-ops; and the streamed tombstones compose — the
    union artifact queried through live_postings equals the batch
    compacted index, closing the grow/retract maintenance loop."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators import similarity as S
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_ivf_delete

    emb = S.planted_embeddings(
        spark.range(120).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
        )
    ).select("vec_id", "embedding")
    index, postings = S.build_ivf_index(emb)
    index = index.cache()
    postings = postings.persist()
    postings.count()

    dead_ids = [i for i in range(120) if i % 7 == 3]
    expected = sorted(
        (r.centroid_id, r.member_id)
        for r in S.ivf_index_delete(
            postings, spark.range(120).selectExpr("id AS vec_id")
            .where("vec_id % 7 = 3")
        ).where("mvec IS NULL").collect()
    )

    # 3 frames, frame 1 redelivered inside frame 2, plus absent ids
    frames = [
        pd.DataFrame({"vec_id": dead_ids[:6]}),
        pd.DataFrame({"vec_id": dead_ids[6:] + dead_ids[:3] + [9999]}),
        pd.DataFrame({"vec_id": dead_ids + [10_000]}),  # full replay
    ]
    stream = _hh_feed(spark, frames, schema="vec_id long")
    out = streaming_ivf_delete(stream, postings)
    got_rows = run_available_now(out, "ivf_delete_stream")
    assert all(r.mvec is None for r in got_rows)
    got = sorted((r.centroid_id, r.member_id) for r in got_rows)
    assert got == expected  # exactly once, absent ids dropped

    # compose: base ∪ streamed tombstones → live view == batch compact
    streamed = spark.createDataFrame(
        [(c, m) for c, m in got], "centroid_id long, member_id long"
    ).select(
        "centroid_id", "member_id",
        F.lit(None).cast(postings.schema["mvec"].dataType).alias("mvec"),
    )
    union_art = postings.unionByName(streamed)
    compacted, _ = S.ivf_index_compact(
        S.ivf_index_delete(
            postings,
            spark.range(120).selectExpr("id AS vec_id")
            .where("vec_id % 7 = 3"),
        )
    )
    q = emb.where("vec_id % 10 = 0")
    res_stream = sorted(map(tuple, S.ivf_index_query(
        index, S.live_postings(union_art), q, k=5).collect()))
    res_batch = sorted(map(tuple, S.ivf_index_query(
        index, compacted, q, k=5).collect()))
    assert res_stream == res_batch
    postings.unpersist()
    index.unpersist()


@pytest.mark.slow
def test_streaming_ivf_delete_manifest_parity_and_tombstone_noop(
    spark, tmp_path
):
    """The manifest operating form: probing the persisted member→cell
    manifest (ivf_manifest_write/read — two-long rows, no per-batch
    tombstone resolution) yields the EXACT tombstone set of the
    inline live_postings form; and a member already tombstoned in the
    artifact resolves like an absent id on BOTH paths — no duplicate
    tombstone, the batch ivf_index_delete 'deleting twice' contract."""
    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators import similarity as S
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_ivf_delete

    emb = S.planted_embeddings(
        spark.range(90).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
        )
    ).select("vec_id", "embedding")
    index, postings = S.build_ivf_index(emb)
    # pre-tombstone ids 0..9 in the artifact itself
    pre_dead = spark.range(10).selectExpr("id AS vec_id")
    art = S.ivf_index_delete(postings, pre_dead).persist()
    art.count()

    # the delete stream asks for some already-dead ids (0..4) and
    # some live ones (30..39)
    frames = [
        pd.DataFrame({"vec_id": [0, 1, 2, 30, 31]}),
        pd.DataFrame({"vec_id": [3, 4, 32, 33, 34, 35]}),
        pd.DataFrame({"vec_id": [36, 37, 38, 39, 0, 30]}),
    ]
    expected = sorted(
        (r.centroid_id, r.member_id)
        for r in S.ivf_index_delete(
            art, spark.range(30, 40).selectExpr("id AS vec_id")
        )
        .where("mvec IS NULL")
        .join(
            spark.range(30, 40).selectExpr("id AS member_id"),
            "member_id",
            "left_semi",
        )
        .collect()
    )
    assert len(expected) == 10  # the live ids, once each

    # inline live_postings form
    stream = _hh_feed(spark, frames, schema="vec_id long")
    got_inline = sorted(
        (r.centroid_id, r.member_id)
        for r in run_available_now(
            streaming_ivf_delete(stream, art), "ivf_del_inline"
        )
    )
    # manifest form: persist + read back the member→cell projection
    mpath = str(tmp_path / "member_manifest")
    S.ivf_manifest_write(art, mpath, num_buckets=8)
    manifest = S.ivf_manifest_read(spark, mpath)
    stream2 = _hh_feed(spark, frames, schema="vec_id long")
    got_manifest = sorted(
        (r.centroid_id, r.member_id)
        for r in run_available_now(
            streaming_ivf_delete(stream2, art, manifest=manifest),
            "ivf_del_manifest",
        )
    )
    assert got_inline == got_manifest == expected
    # no pre-dead member re-tombstoned on either path
    assert not {m for _, m in got_inline} & set(range(10))
    art.unpersist()
