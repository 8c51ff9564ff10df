"""Capstone pipeline: batch parity + streaming co_flat_map staging +
idempotent keyed sink."""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import functions as F

from flink_helloworld_spark.operators import capstone as C
from flink_helloworld_spark.sources import generators as G
from flink_helloworld_spark.streaming.coflatmap import co_flat_map_join
from flink_helloworld_spark.streaming.replay import run_available_now
from flink_helloworld_spark.streaming.sinks import KeyedUpsertSink


def test_generators_are_deterministic(spark):
    a = G.waybill_c(spark, 50).collect()
    b = G.waybill_c(spark, 50).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    row = {r.waybill_code: r for r in a}["JD0000000001"]
    assert len(row.waybill_sign) == 30 and set(row.waybill_sign) <= {"0", "1"}
    assert 1 <= int(row.site_code) <= 9
    assert row.site_name == f"站点{row.site_code}"


def test_capstone_shape_and_fanout(spark):
    wide = C.bd_waybill_order(spark, 100)
    rows = wide.collect()
    assert len(rows) == 500  # 5 packages per waybill
    one = [r for r in rows if r.waybill_code == "JD0000000042"]
    assert len(one) == 5
    assert {r.package_code for r in one} == {f"JD0000000042-{i}" for i in range(1, 6)}
    r = one[0]
    assert r.order_code == "Order0000000042"
    assert r.busi_name == f"商家{r.busi_no}"
    assert r.pickup_date is not None and r.delivery_date is not None


def test_capstone_plan_broadcasts_dims(spark):
    wide = C.bd_waybill_order(spark, 100)
    plan = wide._sc._jvm.PythonSQLUtils.explainString(
        wide._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    # the fan-out stream must not be shuffled for the assembly joins:
    # the only real (hash) exchange is the CEM merge stage
    assert plan.count("Exchange hashpartitioning") <= 1


def test_streaming_capstone_stage(spark):
    """Route-link facts joined with merged-CEM dimension through the
    stateful co_flat_map stage — facts arriving before their dimension
    buffer and flush (reference StateTest.java:700-762)."""
    n = 20
    import pandas as pd

    cem = C.cem_merge(
        G.waybill_c(spark, n), G.waybill_e(spark, n), G.waybill_m(spark, n)
    ).toPandas()
    route = G.waybill_route_link(spark, n).toPandas()
    workdir = tempfile.mkdtemp(prefix="capstream-")
    t0 = time.time() - 120
    # interleave: half the routes first (buffer), then CEM dims, then rest
    route["_seq"] = range(len(route))
    cem["_seq"] = range(len(route), len(route) + len(cem))
    files = [
        route.iloc[: len(route) // 2].assign(side="L"),
        cem.assign(side="R"),
        route.iloc[len(route) // 2 :].assign(side="L"),
    ]
    cols = ["side", "_seq", "waybill_code", "package_code", "site_name", "busi_name"]
    for i, pdf in enumerate(files):
        for c in cols:
            if c not in pdf.columns:
                pdf[c] = None
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf[cols].to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    raw = (
        spark.readStream.schema(
            "side string, _seq long, waybill_code string, package_code string,"
            " site_name string, busi_name string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    left = raw.where(F.col("side") == "L").select("waybill_code", "_seq", "package_code")
    right = raw.where(F.col("side") == "R").select(
        "waybill_code", "_seq", "site_name", "busi_name"
    )
    joined = co_flat_map_join(
        left, right, "waybill_code", ["package_code"], ["site_name", "busi_name"], "_seq"
    )
    rows = run_available_now(joined, "capstone_stream")
    assert len(rows) == n * 5  # every package row enriched exactly once
    assert all(r.site_name and r.busi_name for r in rows)


def test_keyed_upsert_sink_is_idempotent(spark):
    sink = KeyedUpsertSink(tempfile.mkdtemp(prefix="upsert-"), "k", "seq")
    b0 = spark.createDataFrame([("a", 1, "v1"), ("b", 1, "x1")], "k string, seq int, val string")
    b1 = spark.createDataFrame([("a", 2, "v2")], "k string, seq int, val string")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # replay of the same batch id → no-op
    got = {r.k: (r.seq, r.val) for r in sink.read(spark).collect()}
    assert got == {"a": (2, "v2"), "b": (1, "x1")}


def test_keyed_upsert_sink_tombstone_delete(spark):
    sink = KeyedUpsertSink(
        tempfile.mkdtemp(prefix="upsert-del-"), "k", "seq", tombstone_col="deleted"
    )
    b0 = spark.createDataFrame(
        [("a", 1, "v1", False), ("b", 1, "x1", False)],
        "k string, seq int, val string, deleted boolean",
    )
    b1 = spark.createDataFrame(
        [("a", 2, None, True)], "k string, seq int, val string, deleted boolean"
    )
    sink(b0, 0)
    sink(b1, 1)  # tombstone for 'a'
    got = {r.k: r.val for r in sink.read(spark).collect()}
    assert got == {"b": "x1"}  # 'a' deleted, 'b' intact


def test_keyed_upsert_sink_rewrites_only_touched_shards(spark):
    """The partition-scoped contract: a batch touching one key rewrites
    one shard, not the index."""
    sink = KeyedUpsertSink(tempfile.mkdtemp(prefix="upsert-shard-"), "k", "seq", num_shards=8)
    wide = spark.createDataFrame(
        [(f"k{i}", 1, f"v{i}") for i in range(64)], "k string, seq int, val string"
    )
    sink(wide, 0)
    assert len(sink.last_touched_shards) > 1  # 64 keys spread over shards
    import os

    data_dir = os.path.join(sink.path, "data")
    mtimes = {
        d: os.path.getmtime(os.path.join(data_dir, d))
        for d in os.listdir(data_dir)
        if d.startswith("_shard=")
    }
    import time

    time.sleep(0.05)
    sink(spark.createDataFrame([("k3", 2, "v3b")], "k string, seq int, val string"), 1)
    assert len(sink.last_touched_shards) == 1  # single-key batch → single shard
    (touched,) = sink.last_touched_shards
    for d, old_mtime in mtimes.items():
        if d != f"_shard={touched}":
            assert os.path.getmtime(os.path.join(data_dir, d)) == old_mtime
    got = {r.k: (r.seq, r.val) for r in sink.read(spark).collect()}
    assert got["k3"] == (2, "v3b") and len(got) == 64


def test_keyed_upsert_sink_recovers_from_crash_mid_swap(spark):
    """Rename-aside swap: a crash that leaves `shard.old` (data dir gone
    mid-swap) must roll back to a readable index on the next batch."""
    import os
    import shutil

    sink = KeyedUpsertSink(tempfile.mkdtemp(prefix="upsert-crash-"), "k", "seq", num_shards=4)
    sink(
        spark.createDataFrame(
            [(f"k{i}", 1, f"v{i}") for i in range(16)], "k string, seq int, val string"
        ),
        0,
    )
    # simulate the worst crash window: shard renamed aside, replacement
    # never landed, plus a stale tmp dir
    data_dir = os.path.join(sink.path, "data")
    victim = next(d for d in os.listdir(data_dir) if d.startswith("_shard="))
    os.rename(os.path.join(data_dir, victim), os.path.join(data_dir, victim + ".old"))
    os.makedirs(os.path.join(data_dir, "batch-99.tmp"))
    sink(spark.createDataFrame([("k0", 2, "v0b")], "k string, seq int, val string"), 1)
    got = {r.k: (r.seq, r.val) for r in sink.read(spark).collect()}
    assert len(got) == 16  # no keys lost to the simulated crash
    assert got["k0"] == (2, "v0b")
    assert not any(
        d.endswith((".old", ".tmp")) for d in os.listdir(data_dir)
    )  # recovery cleaned up


def test_streaming_capstone_two_fused_stateful_stages_one_query(spark):
    """The reference's single-job multi-stage topology
    (StateTest.java:639-872) without the parquet hop: route-link facts
    chain through TWO buffer-until-dim stages (CEM dim, then order dim)
    fused into ONE transformWithState operator — one streaming query, no
    intermediate sink, typed (timestamp) dim state crossing batches."""
    import pandas as pd
    import shutil

    from flink_helloworld_spark.plans import explain_str
    from flink_helloworld_spark.streaming.tws import chain_stateful_join

    workdir = tempfile.mkdtemp(prefix="chain-")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    odate = pd.Timestamp("2024-06-01 09:00:00")
    base = {
        "waybill_code": "JD01", "package_code": None, "site_name": None,
        "order_code": None, "order_create_date": pd.NaT,
    }
    files = [
        # fact before ANY dim → parks in stage-0 buffer
        [{**base, "side": "F", "_seq": 0, "package_code": "JD01-1"}],
        # CEM dim arrives → fact flushes stage 0, parks in stage-1 buffer
        [{**base, "side": "D0", "_seq": 1, "site_name": "站点7"}],
        # second fact: joins stage 0 immediately, parks at stage 1
        [{**base, "side": "F", "_seq": 2, "package_code": "JD01-2"}],
        # order dim arrives (timestamp col) → both flush fully joined
        [{**base, "side": "D1", "_seq": 3, "order_code": "Order01",
          "order_create_date": odate}],
        # third fact: flows straight through both stages in one batch
        [{**base, "side": "F", "_seq": 4, "package_code": "JD01-3"}],
    ]
    t0 = time.time() - 60
    for i, rows in enumerate(files):
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf = pd.DataFrame(rows)
        pdf["order_create_date"] = pdf["order_create_date"].astype("datetime64[us]")
        pdf.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    raw = (
        spark.readStream.schema(
            "waybill_code string, package_code string, site_name string,"
            " order_code string, order_create_date timestamp,"
            " side string, _seq long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    facts = raw.where(F.col("side") == "F").select("waybill_code", "_seq", "package_code")
    cem = raw.where(F.col("side") == "D0").select("waybill_code", "_seq", "site_name")
    order = raw.where(F.col("side") == "D1").select(
        "waybill_code", "_seq", "order_code", "order_create_date"
    )
    chained = chain_stateful_join(
        facts,
        [(cem, ["site_name"]), (order, ["order_code", "order_create_date"])],
        "waybill_code",
        ["package_code"],
    )
    # ONE stateful operator in the whole query — fused, not staged
    plan = explain_str(chained, "simple")
    assert plan.count("TransformWithStateIn") == 1
    rows = run_available_now(chained, "chain_capstone")
    got = sorted(
        (r.package_code, r.site_name, r.order_code, r.order_create_date) for r in rows
    )
    od = odate.to_pydatetime()
    assert got == [
        ("JD01-1", "站点7", "Order01", od),
        ("JD01-2", "站点7", "Order01", od),
        ("JD01-3", "站点7", "Order01", od),
    ]


def test_streaming_capstone_full_topology_minimum_queries(spark):
    """The COMPLETE 4-stage reference capstone (StateTest.java:639-872)
    in the minimum number of streaming queries Spark allows: the order
    branch (keyed by order_id — the one place Flink itself re-keys) runs
    as its own stateful query into a durable hop; everything keyed by
    waybill_code (CEM dim + route facts + order-branch result) runs as
    ONE fused stateful operator via chain_stateful_join. Two
    queries total, one stateful operator each."""
    import shutil

    import pandas as pd

    from flink_helloworld_spark.streaming.tws import chain_stateful_join

    n = 10

    def write_stream_files(workdir, frames, cols):
        t0 = time.time() - 120
        for i, pdf in enumerate(frames):
            pdf = pdf.copy()
            for c in cols:
                if c not in pdf.columns:
                    pdf[c] = None
            for c in cols:
                if c.endswith("_date") or c == "create_time":
                    pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
            p = os.path.join(workdir, f"f{i:03d}.parquet")
            pdf[cols].to_parquet(p, index=False)
            os.utime(p, (t0 + i, t0 + i))

    # ---- query 1 (order-id keyed): WaybillOrder ⋈ Order → durable hop
    wo = G.waybill_order(spark, n).toPandas()  # order_id, waybill_code, seq
    oh = G.orders_stream(spark, n).toPandas()  # order_code, create_time, seq
    oh = oh.rename(columns={"order_code": "order_id"})
    in1 = tempfile.mkdtemp(prefix="capfull-in1-")
    hop = tempfile.mkdtemp(prefix="capfull-hop-")
    shutil.rmtree(hop)
    wo["_seq"] = range(len(wo))
    oh["_seq"] = range(len(wo), len(wo) + len(oh))
    cols1 = ["side", "_seq", "order_id", "waybill_code", "create_time"]
    # facts (waybill links) first, order headers second → links buffer
    write_stream_files(in1, [wo.assign(side="L"), oh.assign(side="R")], cols1)
    raw1 = (
        spark.readStream.schema(
            "side string, _seq long, order_id string, waybill_code string,"
            " create_time timestamp"
        ).option("maxFilesPerTrigger", "1").parquet(in1)
    )
    s1 = co_flat_map_join(
        raw1.where(F.col("side") == "L").select("order_id", "_seq", "waybill_code"),
        raw1.where(F.col("side") == "R").select("order_id", "_seq", "create_time"),
        "order_id", ["waybill_code"], ["create_time"], "_seq",
    )
    q1 = (
        s1.writeStream.format("parquet")
        .option("path", hop)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="capfull-ck1-"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)

    # ---- query 2 (waybill-code keyed, FUSED): route ⋈ CEM ⋈ order-result
    cem = C.cem_merge(
        G.waybill_c(spark, n), G.waybill_e(spark, n), G.waybill_m(spark, n)
    ).toPandas()
    route = G.waybill_route_link(spark, n).toPandas()
    ores = spark.read.parquet(hop).toPandas()
    ores = ores.rename(columns={"order_id": "order_code", "create_time": "order_create_date"})
    in2 = tempfile.mkdtemp(prefix="capfull-in2-")
    route["_seq"] = range(len(route))
    cem["_seq"] = range(len(route), len(route) + len(cem))
    ores["_seq"] = range(len(route) + len(cem), len(route) + len(cem) + len(ores))
    cols2 = [
        "side", "_seq", "waybill_code", "package_code", "site_name", "busi_name",
        "pickup_date", "order_code", "order_create_date",
    ]
    # route facts first (buffer), then CEM dim, then order-branch result
    write_stream_files(
        in2,
        [route.assign(side="F"), cem.assign(side="D0"), ores.assign(side="D1")],
        cols2,
    )
    raw2 = (
        spark.readStream.schema(
            "side string, _seq long, waybill_code string, package_code string,"
            " site_name string, busi_name string, pickup_date timestamp,"
            " order_code string, order_create_date timestamp"
        ).option("maxFilesPerTrigger", "1").parquet(in2)
    )
    facts = raw2.where(F.col("side") == "F").select(
        "waybill_code", "_seq", "package_code"
    )
    cem_s = raw2.where(F.col("side") == "D0").select(
        "waybill_code", "_seq", "site_name", "busi_name", "pickup_date"
    )
    ores_s = raw2.where(F.col("side") == "D1").select(
        "waybill_code", "_seq", "order_code", "order_create_date"
    )
    final = chain_stateful_join(
        facts,
        [
            (cem_s, ["site_name", "busi_name", "pickup_date"]),
            (ores_s, ["order_code", "order_create_date"]),
        ],
        "waybill_code",
        ["package_code"],
    )
    rows = run_available_now(final, "capfull_final")
    assert len(rows) == n * 5  # every package fully assembled exactly once
    by_wb = {}
    for r in rows:
        by_wb.setdefault(r.waybill_code, []).append(r)
        assert r.site_name and r.busi_name and r.order_code
        assert r.pickup_date is not None and r.order_create_date is not None
    assert all(len(v) == 5 for v in by_wb.values())
    # parity with the BATCH capstone assembly on the same generators
    batch = {
        (r.waybill_code, r.package_code): (r.site_name, r.busi_name, r.order_code)
        for r in C.bd_waybill_order(spark, n).collect()
    }
    stream = {
        (r.waybill_code, r.package_code): (r.site_name, r.busi_name, r.order_code)
        for r in rows
    }
    assert stream == batch


def test_streaming_capstone_two_stages_via_parquet_hop(spark):
    """Multi-stage stateful streaming (the 4-stage reference capstone
    shape) staged through a durable hop: stage 1 (route ⋈ CEM) lands in
    a parquet hop that stage 2 (⋈ order branch) streams from as a
    second query — the staging pattern for stages run as separate
    jobs, exercised end-to-end."""
    n = 10
    import pandas as pd

    cem = C.cem_merge(
        G.waybill_c(spark, n), G.waybill_e(spark, n), G.waybill_m(spark, n)
    ).toPandas()
    route = G.waybill_route_link(spark, n).toPandas()
    orders = (
        G.waybill_order(spark, n)
        .join(G.orders_stream(spark, n), F.col("order_id") == F.col("order_code"))
        .select("waybill_code", "order_code")
        .toPandas()
    )

    def write_stream_files(workdir, frames, cols):
        t0 = time.time() - 120
        for i, pdf in enumerate(frames):
            for c in cols:
                if c not in pdf.columns:
                    pdf[c] = None
            p = os.path.join(workdir, f"f{i:03d}.parquet")
            pdf[cols].to_parquet(p, index=False)
            os.utime(p, (t0 + i, t0 + i))

    # ---- stage 1: route ⋈ CEM → parquet hop
    in1 = tempfile.mkdtemp(prefix="cap2-in1-")
    hop = tempfile.mkdtemp(prefix="cap2-hop-")
    route["_seq"] = range(len(route))
    cem["_seq"] = range(len(route), len(route) + len(cem))
    cols1 = ["side", "_seq", "waybill_code", "package_code", "site_name"]
    write_stream_files(in1, [route.assign(side="L"), cem.assign(side="R")], cols1)
    raw1 = (
        spark.readStream.schema(
            "side string, _seq long, waybill_code string, package_code string, site_name string"
        ).option("maxFilesPerTrigger", "1").parquet(in1)
    )
    s1 = co_flat_map_join(
        raw1.where(F.col("side") == "L").select("waybill_code", "_seq", "package_code"),
        raw1.where(F.col("side") == "R").select("waybill_code", "_seq", "site_name"),
        "waybill_code", ["package_code"], ["site_name"], "_seq",
    )
    q1 = (
        s1.writeStream.format("parquet")
        .option("path", hop)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="cap2-ck1-"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)

    # ---- stage 2: hop ⋈ order branch (second stateful op, new query)
    in2 = tempfile.mkdtemp(prefix="cap2-in2-")
    stage1_out = spark.read.parquet(hop).toPandas()
    stage1_out["side"] = "L"
    stage1_out["_seq"] = range(len(stage1_out))
    orders["side"] = "R"
    orders["_seq"] = range(len(stage1_out), len(stage1_out) + len(orders))
    cols2 = ["side", "_seq", "waybill_code", "package_code", "site_name", "order_code"]
    write_stream_files(in2, [orders, stage1_out], cols2)  # dims first here
    raw2 = (
        spark.readStream.schema(
            "side string, _seq long, waybill_code string, package_code string,"
            " site_name string, order_code string"
        ).option("maxFilesPerTrigger", "1").parquet(in2)
    )
    s2 = co_flat_map_join(
        raw2.where(F.col("side") == "L").select(
            "waybill_code", "_seq", "package_code", "site_name"
        ),
        raw2.where(F.col("side") == "R").select("waybill_code", "_seq", "order_code"),
        "waybill_code", ["package_code", "site_name"], ["order_code"], "_seq",
    )
    rows = run_available_now(s2, "cap2_final")
    assert len(rows) == n * 5
    assert all(r.order_code and r.site_name and r.package_code for r in rows)


def test_streaming_capstone_single_query_across_rekey(spark):
    """The COMPLETE 4-stage reference capstone (StateTest.java:639-872)
    as literally ONE streaming query: the order-id keyed stateful join
    chains into the waybill-code keyed stateful chain via
    transformWithState (streaming/tws.py) — two different-key
    stateful operators, one query, no durable hop at the re-key seam."""
    import shutil

    import pandas as pd

    from flink_helloworld_spark._vendor import ensure_protobuf

    if not ensure_protobuf():
        import pytest

        pytest.skip("protobuf unavailable")
    from flink_helloworld_spark.streaming.tws import capstone_single_query

    n = 10
    wo = G.waybill_order(spark, n).toPandas()  # order_id, waybill_code
    oh = G.orders_stream(spark, n).toPandas().rename(columns={"order_code": "order_id"})
    cem = C.cem_merge(
        G.waybill_c(spark, n), G.waybill_e(spark, n), G.waybill_m(spark, n)
    ).toPandas()
    route = G.waybill_route_link(spark, n).toPandas()

    frames = [  # arrival order exercises buffering at every stage
        route.assign(side="R"),      # stage-B facts buffer (no CEM yet)
        cem.assign(side="C"),        # CEM dim arrives → facts park at D1
        wo.assign(side="L"),         # stage-A facts buffer (no order yet)
        oh.assign(side="O"),         # orders arrive → cascade to the end
    ]
    cols = [
        "side", "_seq", "order_id", "waybill_code", "create_time",
        "package_code", "site_name", "busi_name", "pickup_date",
    ]
    seq = 0
    workdir = tempfile.mkdtemp(prefix="cap1q-in-")
    t0 = time.time() - 120
    for i, pdf in enumerate(frames):
        pdf = pdf.copy()
        pdf["_seq"] = range(seq, seq + len(pdf))
        seq += len(pdf)
        for c in cols:
            if c not in pdf.columns:
                pdf[c] = None
        for c in ("create_time", "pickup_date"):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        p = os.path.join(workdir, f"f{i:03d}.parquet")
        pdf[cols].to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))

    raw = (
        spark.readStream.schema(
            "side string, _seq long, order_id string, waybill_code string,"
            " create_time timestamp, package_code string, site_name string,"
            " busi_name string, pickup_date timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    final = capstone_single_query(
        route=raw.where(F.col("side") == "R"),
        cem=raw.where(F.col("side") == "C"),
        links=raw.where(F.col("side") == "L"),
        orders=raw.where(F.col("side") == "O"),
    )
    # ONE query, TWO different-key stateful operators in its plan
    plan = final._jdf.queryExecution().analyzed().toString()
    assert plan.count("TransformWithStateIn") == 2, plan
    rows = run_available_now(final, "cap1q_final")
    shutil.rmtree(workdir, ignore_errors=True)

    assert len(rows) == n * 5  # every package assembled exactly once
    for r in rows:
        assert r.site_name and r.busi_name and r.order_code
        assert r.pickup_date is not None and r.order_create_date is not None
    # parity with the BATCH capstone assembly on the same generators
    batch = {
        (r.waybill_code, r.package_code): (r.site_name, r.busi_name, r.order_code)
        for r in C.bd_waybill_order(spark, n).collect()
    }
    stream = {
        (r.waybill_code, r.package_code): (r.site_name, r.busi_name, r.order_code)
        for r in rows
    }
    assert stream == batch
