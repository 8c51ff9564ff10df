"""Core relational operators vs hand-computed / DuckDB-checked facts on
the sf0.001 smoke tables."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from flink_helloworld_spark.operators import relational as R
from flink_helloworld_spark.sources.tables import load_tables


def test_word_count_matches_duckdb(spark, sf_dir):
    got = {
        r["word"]: r["cnt"]
        for r in R.word_count(load_tables(spark, sf_dir).documents).collect()
    }
    want = dict(
        duckdb.sql(
            f"""
            SELECT word, count(*) FROM (
              SELECT unnest(string_split(text,' ')) AS word
              FROM read_parquet('{sf_dir}/documents.parquet'))
            WHERE word <> '' AND NOT starts_with(word,'http')
              AND word NOT LIKE '%--%'
            GROUP BY word
            """
        ).fetchall()
    )
    assert got == want


def test_pricing_summary_shape(spark, sf_dir):
    rows = R.pricing_summary(load_tables(spark, sf_dir).lineitem).collect()
    assert 1 <= len(rows) <= 9  # |returnflag| x |linestatus|
    for r in rows:
        assert r["sum_disc_price"] <= r["sum_base_price"]
        assert r["sum_charge"] >= r["sum_disc_price"]
        assert r["count_order"] > 0


def test_denormalize_orders_preserves_fact_rows(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    wide = R.denormalize_orders(t.lineitem, t.orders, t.customer, t.nation, t.region)
    # every lineitem row survives (all FKs resolve) and gains dim columns
    assert wide.count() == t.lineitem.count()
    assert {"customer_name", "nation_name", "region_name", "revenue"} <= set(wide.columns)


def test_denormalize_orders_broadcasts_dims(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    wide = R.denormalize_orders(t.lineitem, t.orders, t.customer, t.nation, t.region)
    plan = wide._sc._jvm.PythonSQLUtils.explainString(
        wide._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan  # dims must not shuffle the fact table


def test_rolling_sum_is_cumulative(spark, sf_dir):
    ev = load_tables(spark, sf_dir).events
    out = R.rolling_sum(ev, "user_id", ["ts", "event_id"], "value")
    one_user = (
        out.where(F.col("user_id") == out.select("user_id").first()[0])
        .orderBy("ts", "event_id")
        .collect()
    )
    acc = 0.0
    for r in one_user:
        acc = round(acc + round(r["value"], 4), 4)
        assert abs(r["running_total"] - acc) < 1e-6


def test_last_non_null_merge(spark):
    df = spark.createDataFrame(
        [
            ("k1", 1, "a", None),
            ("k1", 2, None, "x"),
            ("k1", 3, "b", None),
            ("k2", 1, None, None),
        ],
        "key string, seq int, f1 string, f2 string",
    )
    got = {
        r["key"]: (r["f1"], r["f2"])
        for r in R.last_non_null_merge(df, "key", "seq", ["f1", "f2"]).collect()
    }
    assert got == {"k1": ("b", "x"), "k2": (None, None)}


def test_filter_split_partitions_everything(spark, sf_dir):
    ev = load_tables(spark, sf_dir).events
    main, side = R.filter_split(ev, F.col("value") > 100.0)
    assert main.count() + side.count() == ev.count()
    assert main.where(F.col("value") <= 100.0).count() == 0


def test_union_streams_aligns_by_name(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, "y")], "id int, b string")
    u = R.union_streams(a, b)
    assert set(u.columns) == {"id", "a", "b"}
    assert u.count() == 2


def test_csv_and_jsonl_sources(spark, tmp_path):
    from flink_helloworld_spark.sources.tables import read_csv, read_jsonl

    csv = tmp_path / "in.csv"
    csv.write_text("id,name\n1,alpha\n2,beta\n")
    out = read_csv(spark, str(csv), schema="id INT, name STRING").collect()
    assert [(r.id, r.name) for r in sorted(out, key=lambda r: r.id)] == [
        (1, "alpha"),
        (2, "beta"),
    ]

    jl = tmp_path / "in.jsonl"
    jl.write_text('{"id": 1, "v": 2.5}\n{"id": 2, "v": -1.0}\n')
    rows = read_jsonl(spark, str(jl), schema="id INT, v DOUBLE").collect()
    assert {r.id: r.v for r in rows} == {1: 2.5, 2: -1.0}


def test_read_text_one_row_per_line(spark, tmp_path):
    from flink_helloworld_spark.sources.tables import read_text

    src = tmp_path / "in.txt"
    src.write_text("hello flink\n\nhello spark\n")
    df = read_text(spark, str(src))
    assert df.columns == ["value"]
    assert [r.value for r in df.collect()] == ["hello flink", "", "hello spark"]


def test_apply_changelog_tombstones_and_reinserts(spark):
    from flink_helloworld_spark.operators.relational import apply_changelog

    changes = spark.createDataFrame(
        [
            (1, 10, "a", "U"),
            (1, 20, "b", "U"),   # k1 updated
            (2, 11, "x", "U"),
            (2, 21, None, "D"),  # k2 deleted
            (3, 12, "y", "U"),
            (3, 22, None, "D"),
            (3, 32, "z", "U"),   # k3 deleted then re-inserted
        ],
        "k bigint, seq bigint, v string, op string",
    )
    out = {r.k: r.v for r in apply_changelog(changes, "k", "seq").collect()}
    assert out == {1: "b", 3: "z"}  # k2 stays deleted, k3 resurrected


def test_cohort_retention_matrix(spark):
    from datetime import datetime

    from flink_helloworld_spark.operators.relational import cohort_retention

    def ts(d, h=0):
        return datetime(2024, 1, d, h)

    # u1,u2 start day 1; u1 returns day 2 and 3, u2 only day 3.
    # u3 starts day 2, never returns.
    rows = [
        (1, ts(1), 1, "a", 1.0), (2, ts(1, 5), 2, "a", 1.0),
        (3, ts(2), 1, "a", 1.0), (4, ts(3), 1, "a", 1.0),
        (5, ts(3), 2, "a", 1.0), (6, ts(2), 3, "a", 1.0),
        (7, ts(1, 9), 1, "a", 1.0),  # same-day repeat: no double count
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        (r.cohort_day, r.day_offset): (r.active_users, r.cohort_size, r.retention)
        for r in cohort_retention(ev).collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)
    assert got[("2024-01-01", 2)] == (2, 2, 1.0)
    assert got[("2024-01-02", 0)] == (1, 1, 1.0)
    assert len(got) == 4
