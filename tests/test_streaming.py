"""Streaming operators: scripted watermark replay (golden fixtures from
the reference's EventTimeTest comments) + stateful custom operators.

The 13-step late-data script is EventTimeTest.java:187-210 verbatim
(values/timestamps/watermarks from the reference comments); expected
window sums derive from its per-row annotations: [0,3s)=35+20,
[3s,6s)=60+5, [6s,9s)=12+5, [9s,12s)=12+16, all late rows dropped.
"""

from __future__ import annotations

import tempfile

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
    write_batch_files,
    write_script,
)
from flink_helloworld_spark.streaming.tws import rolling_sum_stream

# EventTimeTest.java:187-210 — tumbling 3 s, no allowed lateness
LATE_SCRIPT = [
    Step("a", 35, 1000),
    Step("a", 20, 1500, 3000),
    Step("a", 11, 100),   # late: window [0,3000) already fired
    Step("a", 23, 1700),  # late
    Step("a", 60, 3100),
    Step("a", 5, 4000, 7000),
    Step("a", 3, 2300),   # late
    Step("a", 3, 1500, 5000),  # late (watermark only moves forward)
    Step("a", 12, 6500),  # NOT late: its window [6000,9000) end > wm 7000
    Step("a", 5, 7100, 10000),
    Step("a", 27, 8900),  # late
    Step("a", 12, 9100),
    Step("a", 16, 9300, 13000),
]

EXPECTED_WINDOW_SUMS = {0: 55, 3000: 65, 6000: 17, 9000: 28}


def _replay(spark, steps, name, build, output_mode="append"):
    workdir = tempfile.mkdtemp(prefix=f"{name}-")
    write_script(steps, workdir)
    stream = build(read_script_stream(spark, workdir))
    return run_available_now(stream, name, output_mode)


def test_tumbling_event_time_drops_late_rows(spark):
    rows = _replay(
        spark, LATE_SCRIPT, "late_fixture",
        lambda s: EW.tumbling_sum_stream(s, "3 seconds"),
    )
    got = {int(r.window_start.timestamp() * 1000): r.window_sum for r in rows}
    assert got == EXPECTED_WINDOW_SUMS


def test_allowed_lateness_refires(spark):
    # EventTimeTest.java:302 analog: with 2 s allowedLateness the late
    # rows at 2300/1500 (script steps 7-8, watermark 7000) are still
    # beyond grace, but row 11@100 (wm 3000, grace → 5000 > 3000+2000)…
    # simplest golden check: update mode + widened delay admits the rows
    # whose window_end + lateness > watermark at arrival.
    rows = _replay(
        spark, LATE_SCRIPT, "lateness_fixture",
        lambda s: EW.tumbling_sum_stream(s, "3 seconds", delay="2 seconds"),
        output_mode="update",
    )
    # update mode re-emits; final value per window = last emission
    final = {}
    for r in rows:
        final[int(r.window_start.timestamp() * 1000)] = r.window_sum
    # Flink rule: drop iff window.end-1 + lateness ≤ watermark.
    # [0,3000): 11@100 (wm 3000, 2999+2000>3000) admitted → 66;
    #           23@1700 admitted → 89;
    #           3@2300 & 3@1500 (wm 7000, 4999≤7000) dropped.
    # [6000,9000): 27@8900 (wm 10000, 8999+2000>10000) admitted → 44.
    assert final[0] == 89
    assert final[3000] == 65 and final[6000] == 44 and final[9000] == 28


def test_late_rows_side_output(spark):
    rows = _replay(
        spark, LATE_SCRIPT, "side_fixture",
        lambda s: EW.late_rows_stream(s, window_ms=3000),
    )
    late = {(r.v, r.event_ts_ms) for r in rows if r.is_late}
    assert late == {(11, 100), (23, 1700), (3, 2300), (3, 1500), (27, 8900)}
    assert len(rows) == 13  # every data row classified


def test_session_window_merging(spark):
    # WindowTest.java:222-242 shape: sessions merge when gap < 2 s
    script = [
        Step("a", 1, 1000),
        Step("a", 2, 2500),   # within 2 s of 1000 → same session
        Step("b", 5, 3000),
        # wm 10500 fires a's [8000,10000) session (9999 ≤ 10500) but
        # keeps b@9000 on time (session end-1 = 10999 > 10500)
        Step("a", 4, 8000, 10500),  # new session (gap > 2 s)
        Step("b", 6, 9000, 30000),
    ]
    rows = _replay(
        spark, script, "session_fixture",
        lambda s: EW.session_sum_stream(s, "2 seconds"),
    )
    got = {(r.k, int(r.window_start.timestamp() * 1000)): r.window_sum for r in rows}
    assert got == {("a", 1000): 3, ("b", 3000): 5, ("a", 8000): 4, ("b", 9000): 6}


def test_rolling_sum_stream_per_event_emission(spark):
    script = [Step("a", 10, 1000), Step("a", 5, 2000), Step("b", 7, 1500), Step("a", 1, 3000)]
    rows = _replay(
        spark, script, "rolling_stream",
        lambda s: rolling_sum_stream(s.drop("event_time"), "k", "v", "seq"),
    )
    got = sorted((r.k, r.running_total) for r in rows)
    assert got == [("a", 10.0), ("a", 15.0), ("a", 16.0), ("b", 7.0)]


def test_count_window_stream_fires_every_n(spark):
    script = [Step("a", i, 1000 * i) for i in range(1, 8)]  # 7 rows
    rows = _replay(
        spark, script, "count_window_stream",
        lambda s: ST.count_window_stream(s.drop("event_time"), "k", "v", "seq", n=3),
    )
    got = sorted((r.bucket, r.window_sum) for r in rows)
    assert got == [(0, 6.0), (1, 15.0)]  # 1+2+3, 4+5+6; 7 never fires


def test_count_trigger_evictor_stream(spark):
    script = [Step("a", i, 1000 * i) for i in range(1, 7)]
    rows = _replay(
        spark, script, "evictor_stream",
        lambda s: ST.count_trigger_evictor_stream(
            s.drop("event_time"), "k", "v", "seq", every=2, keep=3
        ),
    )
    got = sorted((r.fire_seq, r.fired_sum) for r in rows)
    assert got == [(2, 3.0), (4, 9.0), (6, 15.0)]  # trailing ≤3 sums


def test_co_flat_map_join_buffers_until_dim_arrives(spark):
    workdir = tempfile.mkdtemp(prefix="cfm-")
    # facts before dimension: must buffer, then flush on dim arrival
    import pandas as pd
    import os, shutil, time as _time

    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    files = [
        [{"side": "L", "key": "k1", "_seq": 0, "amount": 10, "dim_name": None}],
        [{"side": "L", "key": "k1", "_seq": 1, "amount": 20, "dim_name": None}],
        [{"side": "R", "key": "k1", "_seq": 2, "amount": None, "dim_name": "dim-one"}],
        [{"side": "L", "key": "k1", "_seq": 3, "amount": 30, "dim_name": None}],
    ]
    t0 = _time.time() - 60
    for i, rows in enumerate(files):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame(rows).to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    raw = (
        spark.readStream.schema("side string, key string, _seq long, amount long, dim_name string")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    left = raw.where(F.col("side") == "L").select("key", "_seq", "amount")
    right = raw.where(F.col("side") == "R").select("key", "_seq", "dim_name")
    joined = co_flat_map_join(left, right, "key", ["amount"], ["dim_name"], "_seq")
    rows = run_available_now(joined, "cfm_join")
    got = sorted((r.amount, r.dim_name) for r in rows)
    assert got == [(10, "dim-one"), (20, "dim-one"), (30, "dim-one")]


def test_lookup_enrich_stream_static(spark, sf_dir):
    """lookup_enrich on a STREAMING fact source: Structured Streaming's
    stream-static broadcast join — the Redis cache probe per micro-batch,
    dim re-read so a refreshed dim table is picked up."""
    import os, shutil, time as _time

    import pandas as pd

    from flink_helloworld_spark.operators.lookup import lookup_enrich
    from flink_helloworld_spark.sources.tables import load_tables

    workdir = tempfile.mkdtemp(prefix="lookup-ss-")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    t0 = _time.time() - 60
    for i, custkey in enumerate([1, 2, 999_999_999]):  # last: GET miss
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame(
            [{"fact_id": i, "o_custkey": custkey}]
        ).to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    facts = (
        spark.readStream.schema("fact_id long, o_custkey long")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    dim = load_tables(spark, sf_dir).customer
    enriched = lookup_enrich(
        facts, dim, on=("o_custkey", "c_custkey"), dim_cols=["c_name"]
    )
    rows = {r.fact_id: r.c_name for r in run_available_now(enriched, "lookup_ss")}
    assert len(rows) == 3
    assert rows[0] is not None and rows[1] is not None
    assert rows[2] is None  # miss → null, fact retained


def test_state_codec_round_trips_types():
    """ADVICE r1: dim and buffer share one type-aware codec — typed values
    must come back as their original types, not strings. Round-trips go
    through JSON text, as the chain-join state does."""
    import datetime
    import json
    from decimal import Decimal

    import numpy as np
    import pandas as pd

    from flink_helloworld_spark.streaming.coflatmap import _dec, _enc

    def round_trip(v):
        return _dec(json.loads(json.dumps(_enc(v))))

    rec = {
        "ts": pd.Timestamp("2024-03-01 12:30:45.123456"),
        "date": datetime.date(2024, 3, 1),
        "dec": Decimal("12.34"),
        "blob": b"\x00\x01\xff",
        "arr": [1, pd.Timestamp("2024-01-01")],
        "m": {"fee": Decimal("0.5")},
        "s": "plain",
        "i": np.int64(7),
        "f": 1.5,
        "none": None,
        "nat": pd.NaT,
    }
    out = round_trip(rec)
    assert out["ts"] == rec["ts"] and isinstance(out["ts"], pd.Timestamp)
    assert out["date"] == rec["date"] and isinstance(out["date"], datetime.date)
    assert out["dec"] == rec["dec"] and isinstance(out["dec"], Decimal)
    assert out["blob"] == rec["blob"] and isinstance(out["blob"], bytes)
    assert out["arr"] == [1, pd.Timestamp("2024-01-01")]
    assert out["m"] == {"fee": Decimal("0.5")}
    assert out["s"] == "plain" and out["i"] == 7 and out["f"] == 1.5
    assert out["none"] is None and out["nat"] is None  # NaT → null
    assert round_trip(None) is None
    assert round_trip([rec])[0]["dec"] == Decimal("12.34")


def test_co_flat_map_join_typed_columns_cross_batches(spark):
    """ADVICE r1 regression: a timestamp DIMENSION column (the documented
    WaybillM pickup_date case) and a timestamp FACT column must survive the
    state round-trip across micro-batch boundaries and still satisfy the
    Arrow out_schema."""
    workdir = tempfile.mkdtemp(prefix="cfm-typed-")
    import pandas as pd
    import os, shutil, time as _time

    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    ts_fact = pd.Timestamp("2024-05-01 10:00:00")
    ts_dim = pd.Timestamp("2024-05-02 08:30:00")
    files = [
        # batch 0: fact BEFORE dim → typed fact buffers in state
        [{"side": "L", "key": "k1", "_seq": 0, "amount": 10, "fact_ts": ts_fact,
          "pickup_date": pd.NaT}],
        # batch 1: dim arrives (timestamp column) → flush; dim stored typed
        [{"side": "R", "key": "k1", "_seq": 1, "amount": None, "fact_ts": pd.NaT,
          "pickup_date": ts_dim}],
        # batch 2: fact joins against the dim DECODED from state
        [{"side": "L", "key": "k1", "_seq": 2, "amount": 30,
          "fact_ts": ts_fact + pd.Timedelta(hours=1), "pickup_date": pd.NaT}],
    ]
    t0 = _time.time() - 60
    for i, rows in enumerate(files):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf = pd.DataFrame(rows)
        for c in ("fact_ts", "pickup_date"):  # micros, not pandas nanos
            pdf[c] = pdf[c].astype("datetime64[us]")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    raw = (
        spark.readStream.schema(
            "side string, key string, _seq long, amount long,"
            " fact_ts timestamp, pickup_date timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    left = raw.where(F.col("side") == "L").select("key", "_seq", "amount", "fact_ts")
    right = raw.where(F.col("side") == "R").select("key", "_seq", "pickup_date")
    joined = co_flat_map_join(
        left, right, "key", ["amount", "fact_ts"], ["pickup_date"], "_seq"
    )
    rows = run_available_now(joined, "cfm_typed")
    got = sorted((r.amount, r.fact_ts, r.pickup_date) for r in rows)
    assert got == [
        (10, ts_fact.to_pydatetime(), ts_dim.to_pydatetime()),
        (30, (ts_fact + pd.Timedelta(hours=1)).to_pydatetime(), ts_dim.to_pydatetime()),
    ]


def test_stream_stream_window_join(spark):
    """J2 streaming form: views ⋈ purchases within ±5 s per user, both
    sides watermarked (state evictable)."""
    script = [
        Step("u1", 100, 1000),   # view-ish event
        Step("u1", 200, 3000),   # within 5 s of 1000 → pairs
        Step("u2", 300, 2000),
        Step("u1", 400, 20000, 30000),  # far from earlier u1 rows
    ]
    workdir = tempfile.mkdtemp(prefix="ssj-")
    write_script(script, workdir)
    raw = read_script_stream(spark, workdir).where(F.col("k") != "__wm__")
    left = raw.where(F.col("v") % 200 != 0).select(
        "k", F.col("v").alias("lv"), "event_time"
    )
    right = raw.where(F.col("v") % 200 == 0).select(
        "k", F.col("v").alias("rv"), F.col("event_time").alias("revent_time")
    )
    from flink_helloworld_spark.streaming.event_windows import stream_stream_window_join

    joined = stream_stream_window_join(
        left, right, "k", "event_time", "revent_time", range_ms=5000
    ).select(F.col("l.k").alias("k"), "lv", "rv")
    rows = run_available_now(joined, "ssj")
    assert {(r.k, r.lv, r.rv) for r in rows} == {("u1", 100, 200)}


def test_partitioned_lake_sink(spark):
    import os

    from flink_helloworld_spark.streaming.sinks import partitioned_lake_sink

    script = [Step("a", 1, 1000), Step("b", 2, 2000), Step("a", 3, 3000)]
    workdir = tempfile.mkdtemp(prefix="lake-src-")
    write_script(script, workdir)
    out_dir = tempfile.mkdtemp(prefix="lake-out-")
    ck = tempfile.mkdtemp(prefix="lake-ck-")
    stream = read_script_stream(spark, workdir).select("k", "v", "event_ts_ms")
    q = partitioned_lake_sink(stream, out_dir, ck, ["k"]).trigger(availableNow=True).start()
    q.awaitTermination(120)
    back = spark.read.parquet(out_dir)
    assert {r.k for r in back.select("k").distinct().collect()} >= {"a", "b"}
    assert any(d.startswith("k=") for d in os.listdir(out_dir))  # hive dirs


def test_console_sink_named_by_label(spark):
    from flink_helloworld_spark.streaming.sinks import console_sink

    workdir = tempfile.mkdtemp(prefix="console-src-")
    write_script([Step("a", 1, 1000), Step("b", 2, 2000)], workdir)
    stream = read_script_stream(spark, workdir).select("k", "v")
    q = console_sink(stream, label="k1_print").trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(120)
        assert q.name == "k1_print"
        assert sum(p["numInputRows"] for p in q.recentProgress) == 2
    finally:
        q.stop()


@pytest.mark.slow
def test_co_flat_map_state_ttl_expires(spark, drain):
    """T8 state TTL: with a processing-time TTL, idle keys are dropped —
    a fact arriving after expiry must re-buffer (its dimension state was
    cleared) instead of joining against stale state."""
    import os
    import time as _time

    import pandas as pd

    workdir = tempfile.mkdtemp(prefix="cfmttl-")
    ck = tempfile.mkdtemp(prefix="cfmttl-ck-")
    cols = ["side", "key", "_seq", "amount", "dim_name"]

    def put(i, row):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pd.DataFrame([dict(zip(cols, row))]).to_parquet(p, index=False)
        os.utime(p, (_time.time(), _time.time()))

    out_dir = tempfile.mkdtemp(prefix="cfmttl-out-")

    def run_once(qname):
        # parquet sink: the memory sink cannot recover from a checkpoint
        raw = (
            spark.readStream.schema(
                "side string, key string, _seq long, amount long, dim_name string"
            ).parquet(workdir)
        )
        left = raw.where(F.col("side") == "L").select("key", "_seq", "amount")
        right = raw.where(F.col("side") == "R").select("key", "_seq", "dim_name")
        joined = co_flat_map_join(
            left, right, "key", ["amount"], ["dim_name"], "_seq",
            state_ttl_ms=500,
        )
        q = (
            joined.writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        drain(q)
        return spark.read.parquet(out_dir).collect()

    put(0, ("R", "k1", 0, None, "dim-one"))
    put(1, ("L", "k1", 1, 10, None))
    first = run_once("cfmttl_a")
    assert [(r.amount, r.dim_name) for r in first] == [(10, "dim-one")]
    _time.sleep(1.2)  # let the 500 ms TTL lapse between runs
    put(2, ("L", "k1", 2, 20, None))
    second = run_once("cfmttl_b")
    # state expired: the new fact re-buffers (no stale-dimension join) —
    # cumulative sink output is unchanged from run one
    assert [(r.amount, r.dim_name) for r in second] == [(10, "dim-one")]


class _DictValueState:
    """A ValueState on a dict slot, counting writes and clears."""

    def __init__(self) -> None:
        self.value, self.writes, self.clears = None, 0, 0

    def get(self):
        return self.value

    def update(self, value) -> None:
        self.value, self.writes = tuple(value), self.writes + 1

    def clear(self) -> None:
        self.value, self.clears = None, self.clears + 1


class _DictHandle:
    """The slice of StatefulProcessorHandle the fold kernel uses."""

    def __init__(self) -> None:
        self.states: dict[str, _DictValueState] = {}
        self.ttls: dict[str, int | None] = {}

    def getValueState(self, name, schema, ttl_ms=None):
        self.ttls[name] = ttl_ms
        return self.states.setdefault(name, _DictValueState())


def test_fold_kernel_state_rule_without_jvm():
    """The keyed-state kernel's write rule, driven through a dict-backed
    handle with rows in and rows out: an absent state reads as
    ``initial``; a state away from ``initial`` is written when it
    changes, and with a TTL also on every unchanged touch (the TTL
    refresh), without one not; a fold back to ``initial`` clears a
    stored slot and writes nothing for an unstored one; ``ttl_ms``
    reaches the state."""
    from pyspark.sql import Row
    from pyspark.sql.types import LongType, StructField, StructType

    from flink_helloworld_spark.streaming.tws import FoldProcessor

    seen = []

    def step(state, key, batch):
        seen.append(state)
        return (state[0] + sum(r["v"] for r in batch),), [(key, state[0])]

    for ttl_ms, refresh in ((5_000, 1), (None, 0)):
        proc = FoldProcessor(
            StructType([StructField("n", LongType())]), (0,), step, ["k", "before"], ttl_ms
        )
        handle = _DictHandle()
        proc.init(handle)
        assert handle.ttls == {"state": ttl_ms}
        slot = handle.states["state"]

        def run(*vs):
            rows = iter([Row(v=v) for v in vs])
            # the serializer reads each emitted Row by field name
            return [r.asDict() for r in proc.handleInputRows(("a",), rows, None)]

        assert run(2) == [{"k": "a", "before": 0}] and seen[-1] == (0,)
        assert (slot.value, slot.writes, slot.clears) == ((2,), 1, 0)
        assert run(0) == [{"k": "a", "before": 2}]
        assert (slot.value, slot.writes, slot.clears) == ((2,), 1 + refresh, 0)
        assert run(3) == [{"k": "a", "before": 2}]
        assert (slot.value, slot.writes, slot.clears) == ((5,), 2 + refresh, 0)
        run(-5)
        assert (slot.value, slot.writes, slot.clears) == (None, 2 + refresh, 1)
        run(0)
        assert seen[-1] == (0,)
        assert (slot.value, slot.writes, slot.clears) == (None, 2 + refresh, 1)


# the input of test_followed_by_within_stream_expires_unmatchable_as
CEP_EXPIRY_BATCHES = [
    [(1, 1, 1000, "A")],
    [(2, 1, 50_000, "view")],   # advances time past the window
    [(3, 1, 51_000, "B")],      # too late: A must already be gone
    [(4, 1, 99_000_000, "flush")],
]


def _cep_matches(spark, batches, workdir):
    """A → B within 5 s, no C between, over (event_id, user_id, tsm,
    event_type) rows written one file (= one micro-batch) per batch."""
    from flink_helloworld_spark.streaming.cep import followed_by_within_stream

    write_batch_files(
        [
            [dict(zip(("event_id", "user_id", "tsm", "event_type"), r)) for r in rows]
            for rows in batches
        ],
        workdir,
    )
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, tsm long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(workdir)
    )
    return followed_by_within_stream(
        stream, "user_id", "event_id", "tsm", "event_type",
        first="A", second="B", within_ms=5000, not_between="C",
    )


def test_followed_by_within_stream_matches_batch_semantics(spark):
    """Streaming CEP: match across batch boundary, C-block, same-ms C
    ties, window expiry — mirrors the batch operator's rules."""
    workdir = tempfile.mkdtemp(prefix="cep-stream-")
    batches = [
        # batch 0: u1 A@1000; u2 A@1000 then C@1500 (killed)
        [(1, 1, 1000, "A"), (3, 2, 1000, "A"), (4, 2, 1500, "C")],
        # batch 1: u1 B@2000 (binds, unresolved until ms passes);
        #          u2 B@2000 (no pending A -> nothing)
        [(2, 1, 2000, "B"), (5, 2, 2000, "B")],
        # batch 2: u3 A@1000 B@2000 C@2000 -> same-ms C blocks;
        #          u4 A@1000 B@9000 -> first B out of window kills
        [(6, 3, 1000, "A"), (7, 3, 2000, "B"), (8, 3, 2000, "C"),
         (9, 4, 1000, "A"), (10, 4, 9000, "B")],
        # batch 3: far-future flush rows close every key's pending ms
        [(98, 1, 10_000_000, "flush"), (96, 2, 10_000_000, "flush"),
         (97, 3, 10_000_000, "flush"), (95, 4, 10_000_000, "flush")],
    ]
    out = run_available_now(
        _cep_matches(spark, batches, workdir),
        "cep_stream",
    )
    matches = {(r.user_id, r.a_id, r.b_id, r.lag_ms) for r in out}
    assert matches == {(1, 1, 2, 1000)}  # only u1 matches


def test_followed_by_within_stream_expires_unmatchable_as(spark):
    """State bound: an A whose window passed with no B/C is dropped from
    state (and never matches a too-late B)."""
    out = run_available_now(
        _cep_matches(spark, CEP_EXPIRY_BATCHES, tempfile.mkdtemp(prefix="cep-expire-")),
        "cep_expire",
    )
    assert out == []


def test_followed_by_within_stream_state_empties_when_nothing_pends(spark):
    """Bounded state, measured: after the expiry script no A is pending,
    so the key's state slot is cleared — zero state rows, not one row
    holding an empty pattern list."""
    q = (
        _cep_matches(spark, CEP_EXPIRY_BATCHES, tempfile.mkdtemp(prefix="cep-state-"))
        .writeStream.format("memory")
        .queryName("cep_state_rows")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 0


def test_stream_stream_left_outer_join_emits_unmatched(spark):
    """leftOuter interval join: u2's lone left row has no right match in
    range — it must still emit (null right) once the watermark passes
    its window; matched rows emit as in the inner form."""
    script = [
        Step("u1", 100, 1000),
        Step("u1", 200, 3000),            # matches u1@1000 (within 5 s)
        Step("u2", 300, 2000),            # left row, no right match ever
        # far-future rows on BOTH sides: the join watermark is the MIN of
        # the two inputs' watermarks, so each must advance independently
        Step("u3", 500, 90000, 95000),    # lands on the left split
        Step("u4", 600, 91000, 96000),    # lands on the right split
    ]
    workdir = tempfile.mkdtemp(prefix="ssj-outer-")
    write_script(script, workdir)
    raw = read_script_stream(spark, workdir).where(F.col("k") != "__wm__")
    left = raw.where(F.col("v") % 200 != 0).select(
        "k", F.col("v").alias("lv"), "event_time"
    )
    right = raw.where(F.col("v") % 200 == 0).select(
        "k", F.col("v").alias("rv"), F.col("event_time").alias("revent_time")
    )
    from flink_helloworld_spark.streaming.event_windows import (
        stream_stream_window_join,
    )

    joined = stream_stream_window_join(
        left, right, "k", "event_time", "revent_time",
        range_ms=5000, how="leftOuter",
    ).select(F.col("l.k").alias("k"), "lv", "rv")
    rows = {(r.k, r.lv, r.rv) for r in run_available_now(joined, "ssj_outer")}
    assert ("u1", 100, 200) in rows            # matched pair intact
    assert ("u2", 300, None) in rows           # unmatched left emitted
    assert ("u1", 100, None) not in rows       # matched row not duplicated


def test_session_flush_via_event_time_timers(spark):
    """Session windows rebuilt from RAW stateful-v2 timer primitives
    (streaming/tws.py SessionFlushProcessor): per-key event-time timer
    at last_event+gap, re-armed per event, emitting from the expiry
    callback when the watermark passes — beyond-reference vocabulary
    (Flink's KeyedProcessFunction.onTimer; the reference never uses raw
    timers)."""
    import os
    import tempfile
    import time as _time

    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import session_flush_tws

    base = pd.Timestamp("2026-01-01 10:00:00")
    s = pd.Timedelta(seconds=1)
    frames = [
        # session 1 of key a: two events 10s apart (gap 30s keeps them)
        pd.DataFrame({"k": ["a", "a"], "ts": [base, base + 10 * s], "v": [1.0, 2.0]}),
        # 80s later: new session for a; watermark now passes s1's timer
        pd.DataFrame({"k": ["a"], "ts": [base + 90 * s], "v": [5.0]}),
        # spacer keys push the watermark far past every timer of a
        pd.DataFrame({"k": ["z"], "ts": [base + 600 * s], "v": [0.0]}),
        pd.DataFrame({"k": ["z2"], "ts": [base + 1200 * s], "v": [0.0]}),
    ]
    workdir = tempfile.mkdtemp(prefix="tws-timer-")
    t0 = _time.time() - 60
    for i, pdf in enumerate(frames):
        pdf = pdf.copy()
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("k string, ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = session_flush_tws(stream, gap_ms=30_000)
    rows = [r for r in run_available_now(out, "tws_sessions") if r.k == "a"]
    got = sorted(
        (r.session_start_ms, r.session_end_ms, r.total, r.cnt) for r in rows
    )
    b = int(base.timestamp() * 1000)
    assert got == [
        (b, b + 10_000, 3.0, 2),
        (b + 90_000, b + 90_000, 5.0, 1),
    ]


def test_streaming_domain_cap_first_arrived_kept(spark):
    """Streaming per-domain cap: typed ValueState counters, arrival-order
    keep semantics (the batch op ranks by md5 over the complete set; an
    unbounded stream can only rank by arrival), state persists across
    micro-batches."""
    import os
    import tempfile
    import time as _time

    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_domain_cap

    frames = [
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "source": ["a", "a", "b"], "seq": [0, 1, 2]}
        ),
        pd.DataFrame(
            {"doc_id": [4, 5, 6], "source": ["a", "b", "a"], "seq": [3, 4, 5]}
        ),
    ]
    workdir = tempfile.mkdtemp(prefix="domcap-")
    t0 = _time.time() - 60
    for i, pdf in enumerate(frames):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id long, source string, seq long")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_domain_cap(stream, cap=2)
    rows = {r.doc_id: r for r in run_available_now(out, "domcap_out")}
    assert len(rows) == 6  # every doc emitted with its flag
    # domain a arrival order: 1, 2 (batch 1) then 4, 6 (batch 2) —
    # counter state survived the batch boundary
    assert [rows[i].domain_rank for i in (1, 2, 4, 6)] == [1, 2, 3, 4]
    assert [rows[i].kept for i in (1, 2, 4, 6)] == [True, True, False, False]
    assert [rows[i].domain_rank for i in (3, 5)] == [1, 2]
    assert rows[3].kept and rows[5].kept


def test_keyed_state_null_ordering_key_sorts_last_and_null_value_fails(spark, tmp_path):
    """A null ordering key does not fail a per-record fold: the domain
    cap ranks a null-``seq`` doc after every sequenced doc of its batch.
    A null in a rolling sum's value column fails the query with a
    ``TypeError`` in the worker (the running total is a Python float,
    so there is no NaN to carry on)."""
    from pyspark.errors import StreamingQueryException

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import streaming_domain_cap

    cap_dir, sum_dir = str(tmp_path / "cap"), str(tmp_path / "sum")
    write_batch_files(
        [[{"doc_id": 1, "source": "a", "seq": None},
          {"doc_id": 2, "source": "a", "seq": 5},
          {"doc_id": 3, "source": "a", "seq": 1}]],
        cap_dir,
        dtypes={"seq": "Int64"},
    )
    stream = spark.readStream.schema("doc_id long, source string, seq long").parquet(cap_dir)
    rows = run_available_now(streaming_domain_cap(stream, cap=2), "null_seq_cap")
    assert sorted((r.doc_id, r.domain_rank, r.kept) for r in rows) == [
        (1, 3, False), (2, 2, True), (3, 1, True)
    ]

    write_batch_files(
        [[{"k": "a", "seq": 0, "v": 1.0}, {"k": "a", "seq": 1, "v": None}]], sum_dir
    )
    stream = spark.readStream.schema("k string, seq long, v double").parquet(sum_dir)
    with pytest.raises(StreamingQueryException, match="TypeError"):
        run_available_now(rolling_sum_stream(stream, "k", "v", "seq"), "null_value_sum")


def test_lsh_gate_plans_two_row_transform_with_state_operators(spark, tmp_path):
    """The streaming LSH gate's analyzed plan holds its two chained
    keyed-state operators, both on the Row form of transformWithState
    (Spark 4.1 plans both forms as one ``TransformWithStateInPySpark``
    node and names the form in it: ``python_row`` or ``pandas``), and no
    pandas one. The query is built, never started."""
    from flink_helloworld_spark.streaming.tws import streaming_lsh_dedup

    raw = spark.readStream.schema("doc_id long, text string").parquet(str(tmp_path))
    plan = streaming_lsh_dedup(raw)._jdf.queryExecution().analyzed().toString()
    nodes = [ln for ln in plan.splitlines() if "TransformWithState" in ln]
    assert len(nodes) == 2, plan
    assert all("TransformWithStateInPySpark " in ln for ln in nodes), plan
    assert all(", python_row," in ln for ln in nodes), plan
    assert "pandas" not in plan and "TransformWithStateInPandas" not in plan


def test_streaming_lsh_dedup_matches_batch(spark):
    """Streaming MinHash-LSH first-arrival gate: two chained TWS
    operators (bucket-claim -> doc-verdict) across the re-key seam;
    after in-order batches the verdicts are doc-for-doc identical to
    batch `dedup.lsh_first_arrival`, with bucket state surviving the
    micro-batch boundary (the cross-batch duplicate is dropped)."""
    import os
    import tempfile
    import time as _time

    import pandas as pd
    import pytest

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.operators.dedup import lsh_first_arrival
    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import streaming_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")
    frames = [
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [base, base, "tiny doc"],  # 2 = in-batch exact dup
            }
        ),
        pd.DataFrame(
            {
                "doc_id": [4, 5],
                "text": [base, near],  # 4 = CROSS-batch dup; 5 = near dup
            }
        ),
    ]
    workdir = tempfile.mkdtemp(prefix="lshdedup-")
    t0 = _time.time() - 60
    for i, pdf in enumerate(frames):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = streaming_lsh_dedup(stream)
    got = {
        r.doc_id: (r.n_bands, r.n_first, r.kept)
        for r in run_available_now(out, "lshdedup_out")
    }
    all_docs = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    want = {
        r.doc_id: (r.n_bands, r.n_first, r.kept)
        for r in lsh_first_arrival(all_docs).collect()
    }
    assert got == want
    assert got[1][2] and not got[2][2]  # first copy kept, in-batch dup dropped
    assert not got[4][2]  # cross-batch dup: bucket state persisted
    assert got[3] == (0, 0, True)  # shingle-less doc passes trivially
