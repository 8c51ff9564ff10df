"""Scale-path operators: salting, bucketed co-located joins, and the
transformWithState upgrade path."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from flink_helloworld_spark.operators.skew import salted_sum
from flink_helloworld_spark.plans import explain_str
from flink_helloworld_spark.sources.tables import load_tables


def test_salted_sum_equals_plain_sum(spark, sf_dir):
    ev = load_tables(spark, sf_dir).events
    salted = {
        r.event_type: (r.total, r.cnt)
        for r in salted_sum(ev, "event_type", "value", "event_id", 16).collect()
    }
    plain = {
        r.event_type: (r.total, r.cnt)
        for r in ev.groupBy("event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    }
    assert salted == plain  # exact decimal: salting is invisible in results


def test_salted_sum_spreads_hot_keys(spark, sf_dir):
    ev = load_tables(spark, sf_dir).events
    plan = explain_str(salted_sum(ev, "event_type", "value", "event_id", 16), "simple")
    # first exchange must partition on (key, salt), not the hot key alone
    assert "hashpartitioning(event_type" in plan and "_salt" in plan


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Bucketing co-locates join keys at write time: the bucketed join
    plans with zero exchanges on either side (SURVEY §2.9: pre-partition
    instead of per-query shuffles)."""
    import shutil

    t = load_tables(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS or_b")
    # a fresh metastore may not know tables whose files survived a
    # previous session — clear the locations too
    for name in ("li_b", "or_b"):
        shutil.rmtree(f"/tmp/fhs-warehouse/{name}", ignore_errors=True)
    t.lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    t.orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("or_b")
    li, orders = spark.table("li_b"), spark.table("or_b")
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    plan = explain_str(joined, "simple")
    assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
    # and it still computes the right thing
    assert joined.count() == t.lineitem.join(
        t.orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).count()


def _asof_fixture(spark, n_right: int):
    """One hot key with n_right right rows — the pair-join blowup case."""
    left = spark.createDataFrame(
        [("k", i, i * 1000) for i in range(0, 100)], "key string, event_id long, t long"
    ).select("key", "event_id", F.timestamp_millis(F.col("t")).alias("t"))
    right = spark.createDataFrame(
        [("k", i, i * 10) for i in range(n_right)], "key string, r_id long, rt long"
    ).select("key", "r_id", F.timestamp_millis(F.col("rt")).alias("rt"))
    return left, right


def test_as_of_join_linear_matches_pairs(spark):
    from flink_helloworld_spark.operators.temporal_joins import as_of_join, as_of_join_pairs

    left, right = _asof_fixture(spark, 500)
    lin = {
        (r.key, r.event_id): (r.asof_r_id, r.asof_rt)
        for r in as_of_join(
            left, right, "key", "t", "rt", ["r_id", "rt"], right_id="r_id"
        ).collect()
    }
    pairs = {
        (r.key, r.event_id): (r.asof_r_id, r.asof_rt)
        for r in as_of_join_pairs(
            left, right, "key", "t", "rt", ["r_id", "rt"], right_id="r_id"
        ).collect()
    }
    assert lin == pairs and len(lin) == 100


def test_as_of_join_hot_key_no_pair_blowup(spark):
    """The linear as-of join has NO join node: a hot key with 10k right
    rows flows through one sort, never an O(L×R) pair materialization."""
    from flink_helloworld_spark.operators.temporal_joins import as_of_join

    left, right = _asof_fixture(spark, 10_000)
    df = as_of_join(left, right, "key", "t", "rt", ["r_id", "rt"], right_id="r_id")
    plan = explain_str(df, "simple")
    assert "Join" not in plan  # union + window only — structurally O(L+R)
    assert plan.count("Exchange hashpartitioning") == 1  # the key sort shuffle
    got = {r.event_id: r.asof_r_id for r in df.collect()}
    # left t = i*1000 ms; right rt = j*10 ms, j<10k → winner j = min(i*100, 9999)
    assert all(got[i] == min(i * 100, 9_999) for i in range(100))


def test_as_of_join_tied_right_times_deterministic(spark):
    """ADVICE: tied right timestamps must resolve to the greatest
    right_id, in both formulations."""
    from flink_helloworld_spark.operators.temporal_joins import as_of_join, as_of_join_pairs

    left = spark.createDataFrame(
        [("k", 1, 5000)], "key string, event_id long, t long"
    ).select("key", "event_id", F.timestamp_millis(F.col("t")).alias("t"))
    right = spark.createDataFrame(
        [("k", rid, 1000) for rid in (3, 7, 5)], "key string, r_id long, rt long"
    ).select("key", "r_id", F.timestamp_millis(F.col("rt")).alias("rt"))
    for fn in (as_of_join, as_of_join_pairs):
        (row,) = fn(left, right, "key", "t", "rt", ["r_id"], right_id="r_id").collect()
        assert row.asof_r_id == 7, fn.__name__


def test_as_of_join_inner_drops_unmatched(spark):
    from flink_helloworld_spark.operators.temporal_joins import as_of_join

    left = spark.createDataFrame(
        [("k", 1, 500), ("k", 2, 5000)], "key string, event_id long, t long"
    ).select("key", "event_id", F.timestamp_millis(F.col("t")).alias("t"))
    right = spark.createDataFrame(
        [("k", 9, 1000)], "key string, r_id long, rt long"
    ).select("key", "r_id", F.timestamp_millis(F.col("rt")).alias("rt"))
    rows = as_of_join(
        left, right, "key", "t", "rt", ["r_id"], how="inner", right_id="r_id"
    ).collect()
    assert [(r.event_id, r.asof_r_id) for r in rows] == [(2, 9)]


def test_transform_with_state_rolling_sum(spark):
    """The transformWithState rolling sum emits one running total
    per input row, in seq order, across one-row micro-batches."""
    # the transformWithState worker needs protobuf at runtime
    pytest.importorskip("google.protobuf")
    import os, time
    import pandas as pd

    from flink_helloworld_spark.streaming.replay import run_available_now
    from flink_helloworld_spark.streaming.tws import rolling_sum_stream

    workdir = tempfile.mkdtemp(prefix="tws-")
    rows = [("a", 0, 10.0), ("a", 1, 5.0), ("b", 2, 7.0), ("a", 3, 1.0)]
    t0 = time.time() - 60
    for i, r in enumerate(rows):
        p = os.path.join(workdir, f"f{i:02d}.parquet")
        pd.DataFrame([r], columns=["k", "seq", "v"]).to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("k string, seq long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(workdir)
    )
    out = run_available_now(rolling_sum_stream(stream, "k", "v", "seq"), "tws_rolling")
    got = sorted((r.k, r.running_total) for r in out)
    assert got == [("a", 10.0), ("a", 15.0), ("a", 16.0), ("b", 7.0)]


def test_followed_by_within_semantics(spark):
    from flink_helloworld_spark.operators.cep import followed_by_within

    def ev(i, u, t, typ):
        return (i, u, t, typ)

    rows = [
        # u1: A at 1000, B at 2000 -> match (lag 1000)
        ev(1, 1, 1000, "A"), ev(2, 1, 2000, "B"),
        # u2: A at 1000, C at 1500, B at 2000 -> blocked by C
        ev(3, 2, 1000, "A"), ev(4, 2, 1500, "C"), ev(5, 2, 2000, "B"),
        # u3: A at 1000, B at 9000 -> outside window
        ev(6, 3, 1000, "A"), ev(7, 3, 9000, "B"),
        # u4: A at 1000, C AFTER B (B 2000, C 3000) -> still a match
        ev(8, 4, 1000, "A"), ev(9, 4, 2000, "B"), ev(10, 4, 3000, "C"),
        # u5: two Bs after A -> earliest wins
        ev(11, 5, 1000, "A"), ev(12, 5, 1500, "B"), ev(13, 5, 1800, "B"),
    ]
    df = spark.createDataFrame(
        [(i, u, t, ty) for i, u, t, ty in rows],
        "event_id long, user_id long, ms long, event_type string",
    ).withColumn("ts", F.timestamp_millis(F.col("ms")))
    out = {
        r.user_id: r
        for r in followed_by_within(
            df, "user_id", "ts", "event_type", "A", "B",
            within_ms=5000, not_between="C",
        ).collect()
    }
    assert set(out) == {1, 4, 5}
    assert out[1].b_id == 2 and out[1].lag_ms == 1000
    assert out[4].b_id == 9
    assert out[5].b_id == 12 and out[5].lag_ms == 500


def test_gapfill_locf_fills_and_carries(spark):
    from flink_helloworld_spark.operators.rollups import time_bucket_gapfill

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 100, 20.0), (1, 3050, 5.0),  # gap at bucket 1000,2000
         (2, 500, 7.0)],                                 # single-bucket key
        "user_id long, ms long, value double",
    ).withColumn("ts", F.timestamp_millis(F.col("ms")))
    out = {
        (r.user_id, r.bucket): r
        for r in time_bucket_gapfill(
            df, "user_id", "ts", "value", bucket_ms=1000
        ).collect()
    }
    assert len(out) == 5  # u1: buckets 0..3000 dense; u2: one bucket
    assert out[(1, 0)].cnt == 2 and out[(1, 0)].sum_value == 30.0
    assert out[(1, 1000)].cnt == 0 and out[(1, 1000)].filled
    assert out[(1, 1000)].sum_value == 30.0  # carried forward
    assert out[(1, 2000)].sum_value == 30.0
    assert out[(1, 3000)].cnt == 1 and out[(1, 3000)].sum_value == 5.0
    assert out[(2, 0)].cnt == 1 and not out[(2, 0)].filled


def test_followed_by_within_same_ms_b_before_a_excluded(spark):
    """Regression: a B at the SAME ms as A but earlier in (ts, id)
    sequence order must not be reported as the match — the recovery
    join picks the first B *following* A."""
    from flink_helloworld_spark.operators.cep import followed_by_within

    df = spark.createDataFrame(
        [(3, 1, 1000, "B"), (5, 1, 1000, "A"), (7, 1, 1000, "B")],
        "event_id long, user_id long, ms long, event_type string",
    ).withColumn("ts", F.timestamp_millis(F.col("ms")))
    out = followed_by_within(
        df, "user_id", "ts", "event_type", "A", "B", within_ms=5000
    ).collect()
    assert len(out) == 1
    assert out[0].b_id == 7 and out[0].lag_ms == 0


def test_salted_join_matches_plain_join(spark, sf_dir):
    from flink_helloworld_spark.operators.skew import salted_join

    ev = load_tables(spark, sf_dir).events.select("user_id", "event_id")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    plain = {(r.user_id, r.event_id, r.n) for r in ev.join(dim, "user_id").collect()}
    salted = {
        (r.user_id, r.event_id, r.n)
        for r in salted_join(ev, dim, "user_id", "event_id", buckets=8).collect()
    }
    assert salted == plain


def test_bloom_filter_no_false_negatives(spark):
    from flink_helloworld_spark.operators.rollups import (
        bloom_filter_build,
        bloom_might_contain,
    )

    df = spark.createDataFrame(
        [("g", i) for i in range(100)], "g string, v long"
    )
    filters = bloom_filter_build(df, "g", "v")
    present = spark.createDataFrame([("g", i) for i in range(100)], "g string, v long")
    out = bloom_might_contain(filters, present, "g", "v").collect()
    assert all(r.might_contain for r in out)  # NEVER a false negative
    absent = spark.createDataFrame(
        [("g", i) for i in range(10_000, 10_200)], "g string, v long"
    )
    fp = sum(r.might_contain for r in bloom_might_contain(filters, absent, "g", "v").collect())
    assert fp / 200 < 0.15  # 1008 bits, n=100, k=3 -> ~2% expected


def test_rate_anomaly_flags_spike_gates_warmup_and_gaps(spark):
    """EWMA rate-spike detector: a planted 8x burst over a steady
    baseline flags; the kernel-warmup window never flags (even a huge
    early jump); gap buckets count as ZERO activity (decaying the
    baseline instead of freezing it); and a burst onto an all-silent
    baseline (ewma=0) flags without a division. All numbers exact
    dyadics — ewma_prev is pinned to closed-form values."""
    from flink_helloworld_spark.operators.rollups import rate_anomaly

    rows = []
    # key A: 4 events/bucket for buckets 0..19, then an 32-event burst
    # at bucket 20, then quiet 1-event buckets
    for b in range(20):
        rows += [("A", b * 1000 + j) for j in range(4)]
    rows += [("A", 20_000 + j) for j in range(32)]
    rows += [("A", 21_500)]
    # key B: single early burst inside warmup — must NOT flag
    rows += [("B", 0), ("B", 1)] + [("B", 3_000 + j) for j in range(40)]
    # key C: silent 17 buckets (one marker event at each end), then a
    # burst onto the zero baseline — flags via the ewma=0 arm
    rows += [("C", 0)] + [("C", 18_000 + j) for j in range(12)]
    df = spark.createDataFrame(
        rows, "k string, ms long"
    ).withColumn("ts", F.timestamp_millis(F.col("ms")))
    out = {
        (r.k, r.bucket): r
        for r in rate_anomaly(
            df, "k", "ts", bucket_ms=1000, taps=16, threshold=4.0,
            min_count=8,
        ).collect()
    }
    # the planted burst flags: baseline is a steady 4/bucket, so
    # ewma_prev = 4 * (1 - 2^-16), and 32 >= 4*threshold
    a20 = out[("A", 20_000)]
    assert a20.cnt == 32 and a20.is_anomaly
    assert a20.ewma_prev == 4.0 * (1.0 - 2.0**-16)
    # steady buckets never flag; the quiet bucket after the burst
    # doesn't either (spike INFLATES the baseline)
    assert not out[("A", 19_000)].is_anomaly
    assert not out[("A", 21_000)].is_anomaly
    # warmup gate: B's bucket-3 burst is inside the 16-tap warmup
    b3 = out[("B", 3_000)]
    assert b3.cnt == 40 and not b3.is_anomaly
    # zero-baseline burst: C flags through the ewma=0 arm, score NULL
    c18 = out[("C", 18_000)]
    assert c18.cnt == 12 and c18.is_anomaly
    assert c18.ewma_prev == 0.0 and c18.score is None
    # gaps exist as rows with cnt=0 (dense timeline)
    assert out[("C", 9_000)].cnt == 0


def test_cms_join_size_never_underestimates(spark):
    """CMS inner product (Cormode-Muthukrishnan §4.2): the estimate is
    NEVER below the true join size (counters only ever merge keys),
    and the audit row carries the exact size + ratio; the sketch-only
    form returns just the estimate."""
    from flink_helloworld_spark.operators.rollups import cms_join_size

    left = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 2 + [("c",)] * 5, "k string"
    )
    right = spark.createDataFrame(
        [("a",)] * 2 + [("c",)] * 4 + [("zz",)] * 7, "k string"
    )
    row = cms_join_size(left, "k", right, "k").collect()[0]
    assert row.true_join_size == 3 * 2 + 5 * 4  # a:6 + c:20
    assert row.est_join_size >= row.true_join_size
    assert row.overestimate_ratio >= 1.0
    assert row.d_rows == 4 and row.width == 256
    # skewed self-join: still an overestimate-only bound
    skew = spark.createDataFrame(
        [(i % 7,) for i in range(500)], "k bigint"
    )
    r2 = cms_join_size(skew, "k", skew, "k").collect()[0]
    assert r2.est_join_size >= r2.true_join_size > 0
    # sketch-only operating form: no exact-size computation
    lean = cms_join_size(left, "k", right, "k", audit=False)
    assert lean.columns == ["est_join_size", "d_rows", "width"]
    assert lean.collect()[0].est_join_size >= 26
    # fully disjoint key sets: a hash row with no colliding cells has
    # inner product ZERO and must participate in the min — the
    # estimate is a number (0 unless every row collides), never NULL
    dl = spark.createDataFrame([("p",)] * 3, "k string")
    dr = spark.createDataFrame([("q",)] * 4, "k string")
    r3 = cms_join_size(dl, "k", dr, "k").collect()[0]
    assert r3.true_join_size == 0
    assert r3.est_join_size is not None
    assert r3.est_join_size >= r3.true_join_size
    assert r3.overestimate_ratio is None  # 0/0: no defined ratio
