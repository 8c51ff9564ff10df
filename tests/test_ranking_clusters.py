"""Tests for term-relevance ranking (TF-IDF / BM25), duplicate
clustering (connected components), window Top-N, and SCD2 intervals."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from flink_helloworld_spark.operators.dedup import duplicate_clusters
from flink_helloworld_spark.operators.ranking import bm25_search, tfidf_top_terms
from flink_helloworld_spark.operators.relational import scd2_intervals
from flink_helloworld_spark.operators.windows import window_topn


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_tfidf_surfaces_rare_term(spark):
    # "zebra" appears once in one doc of three -> its top term; "the" is
    # in every doc -> idf ln(1)=0, never ranked above a rare term
    docs = _docs(
        spark,
        [
            (1, "the zebra the the"),
            (2, "the cat the"),
            (3, "the dog"),
        ],
    )
    out = tfidf_top_terms(docs, k=1).collect()
    by_doc = {r.doc_id: r for r in out}
    assert by_doc[1].term == "zebra"
    assert by_doc[1].tfidf == round(1 * math.log(3 / 1), 6)
    # doc 3: "dog" (idf ln(3)) beats "the" (idf 0)
    assert by_doc[3].term == "dog"


def test_bm25_rewards_term_frequency_and_rarity(spark):
    docs = _docs(
        spark,
        [
            (1, "hash hash hash join"),  # both terms, high tf
            (2, "hash table scan"),  # one term
            (3, "sort merge only"),  # no query terms -> excluded
            (4, "join"),  # one term, shortest doc
        ],
    )
    out = bm25_search(docs, ("hash", "join"), topn=10).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids
    assert ids[0] == 1  # both terms + high tf wins
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    assert all(r.bm25 > 0 for r in out)


def test_duplicate_clusters_transitive_chain(spark):
    # chain 1-2-3-4-5 must collapse to one cluster labeled 1 (needs
    # multiple propagation rounds), plus an island {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "doc_a bigint, doc_b bigint",
    )
    out = {r.doc_id: r for r in duplicate_clusters(pairs).collect()}
    assert len(out) == 7
    for d in (1, 2, 3, 4, 5):
        assert out[d].cluster_id == 1 and out[d].cluster_size == 5
    for d in (10, 11):
        assert out[d].cluster_id == 10 and out[d].cluster_size == 2


def test_window_topn_ranks_within_each_window(spark):
    ev = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "a"),
            ("2024-01-01 11:00:00", "a"),
            ("2024-01-01 12:00:00", "b"),
            ("2024-01-02 10:00:00", "c"),
        ],
        "ts string, event_type string",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = window_topn(ev, "ts", "1 day", "event_type", n=1).collect()
    got = {str(r.window_start.date()): r.event_type for r in out}
    assert got == {"2024-01-01": "a", "2024-01-02": "c"}


def test_scd2_intervals_collapse_and_close(spark):
    orders = spark.createDataFrame(
        [
            # cust 1: P1 (two rows, collapsed) -> P2 -> current
            (101, 1, "P1", "2024-01-01"),
            (102, 1, "P1", "2024-01-05"),
            (103, 1, "P2", "2024-02-01"),
            # cust 2: single value, open interval
            (201, 2, "P9", "2024-03-01"),
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string, o_orderdate string",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    rows = sorted(
        scd2_intervals(orders).collect(),
        key=lambda r: (r.o_custkey, str(r.valid_from)),
    )
    assert len(rows) == 3  # consecutive same-priority rows collapsed
    c1p1, c1p2, c2 = rows
    assert c1p1.o_orderpriority == "P1" and not c1p1.is_current
    assert str(c1p1.valid_to) == str(c1p2.valid_from)
    assert c1p2.is_current and c1p2.valid_to is None
    assert c2.o_custkey == 2 and c2.is_current


def test_bm25_stable_under_repartition(spark):
    docs = _docs(
        spark,
        [(i, f"hash join value {'hash ' * (i % 4)}") for i in range(1, 40)],
    )
    a = bm25_search(docs, ("hash", "join"), topn=10).collect()
    b = bm25_search(docs.repartition(7), ("hash", "join"), topn=10).collect()
    assert [(r.rank, r.doc_id, r.bm25) for r in a] == [
        (r.rank, r.doc_id, r.bm25) for r in b
    ]


def test_hll_distinct_accuracy_and_stability(spark):
    from flink_helloworld_spark.operators.rollups import hll_distinct

    # 1000 distinct values in one group: estimate within standard HLL
    # error for m=64 (~13% rel std -> allow 3 sigma)
    df = spark.createDataFrame(
        [("g", i) for i in range(1000)], "grp string, v bigint"
    )
    est = hll_distinct(df, "grp", "v").collect()[0]
    assert abs(est.distinct_estimate - 1000) / 1000 < 0.4
    assert est.n_zero == 0
    # duplicates don't move the estimate (register max is idempotent)
    dup = df.union(df)
    est_dup = hll_distinct(dup, "grp", "v").collect()[0]
    assert est_dup.distinct_estimate == est.distinct_estimate
    # partitioning doesn't move it either (integer register sum)
    est_rep = hll_distinct(df.repartition(13), "grp", "v").collect()[0]
    assert est_rep.distinct_estimate == est.distinct_estimate


def test_hll_small_range_uses_linear_counting(spark):
    from flink_helloworld_spark.operators.rollups import hll_distinct

    df = spark.createDataFrame(
        [("g", i) for i in range(8)], "grp string, v bigint"
    )
    est = hll_distinct(df, "grp", "v").collect()[0]
    # 8 distinct -> linear counting regime; tight at this cardinality
    assert est.n_zero > 0
    assert abs(est.distinct_estimate - 8) < 2.5


def test_zorder_interleave_bits(spark):
    from flink_helloworld_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(3, 0), (0, 3), (65535, 65535)], "x bigint, y bigint"
    )
    out = df.select(
        zorder_key(F.col("x"), F.col("y")).alias("z")
    ).collect()
    # x fills even bits, y odd bits
    assert [r.z for r in out] == [0b0101, 0b1010, (1 << 32) - 1]


def test_zorder_files_bound_both_dimensions(spark):
    from flink_helloworld_spark.operators.layout import zorder_layout_stats

    grid = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x bigint, y bigint"
    )
    stats = zorder_layout_stats(grid, "x", "y", bits=5, file_bits=4).collect()
    assert len(stats) == 16
    for r in stats:
        # each target file covers an 8x8 block: BOTH dimensions bounded,
        # which single-column sorting cannot do
        assert r.max_x - r.min_x <= 7
        assert r.max_y - r.min_y <= 7
        assert r.n_rows == 64


def test_inverted_index_postings_sorted(spark):
    from flink_helloworld_spark.operators.ranking import inverted_index

    docs = _docs(
        spark, [(3, "b a"), (1, "a b"), (2, "a a c")]
    )
    rows = {r.term: r for r in inverted_index(docs).collect()}
    assert rows["a"].df == 3 and rows["a"].postings == "1,2,3"
    assert rows["b"].df == 2 and rows["b"].postings == "1,3"
    assert rows["c"].df == 1 and rows["c"].postings == "2"


def test_cms_never_undercounts(spark):
    from flink_helloworld_spark.operators.rollups import cms_point_estimates

    df = spark.createDataFrame(
        [(i % 17,) for i in range(500)], "k bigint"
    )
    true = df.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    out = cms_point_estimates(df, "k", true).collect()
    assert len(out) == 17
    for r in out:
        assert r.cms_est >= r.true_cnt  # CMS one-sided error guarantee


def test_scd2_null_attribute_periods_are_intervals(spark):
    """Review regression: a HIGH -> NULL -> HIGH history must produce
    THREE intervals (the NULL period is a real validity range), and an
    unchanged value after a NULL row must not fabricate a boundary."""
    from flink_helloworld_spark.operators.relational import scd2_intervals

    rows = [
        (1, "HIGH", "2024-01-01", 1),
        (1, None, "2024-02-01", 2),
        (1, None, "2024-02-15", 3),  # unchanged NULL: no new interval
        (1, "HIGH", "2024-03-01", 4),
    ]
    df = spark.createDataFrame(
        rows, "k long, attr string, d string, seq long"
    ).withColumn("d", F.to_date("d"))
    got = [
        (r.attr, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in scd2_intervals(df, "k", "attr", "d", "seq")
        .orderBy("valid_from")
        .collect()
    ]
    assert got == [
        ("HIGH", "2024-01-01", "2024-02-01", False),
        (None, "2024-02-01", "2024-03-01", False),
        ("HIGH", "2024-03-01", "None", True),
    ]


def test_hll_ignores_null_values(spark):
    """Review regression: NULL values must not form a phantom register —
    a group of only NULLs estimates 0 distinct, and a mixed group
    estimates the same as with the NULLs removed."""
    from flink_helloworld_spark.operators.rollups import hll_distinct

    rows = [("only_null", None)] * 5 + [("mixed", None)] * 3 + [
        ("mixed", f"u{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r.g: r.distinct_estimate for r in hll_distinct(df, "g", "v").collect()}
    clean = spark.createDataFrame(
        [("mixed", f"u{i}") for i in range(10)], "g string, v string"
    )
    (want,) = hll_distinct(clean, "g", "v").collect()
    assert "only_null" not in got  # no values -> no group row at all
    assert got["mixed"] == want.distinct_estimate


def test_profile_table_nulls_counted_but_not_registered(spark):
    """profile_table: NULLs ride the null/row counts but never the HLL
    registers; an all-NULL column estimates 0 distinct."""
    from flink_helloworld_spark.operators.rollups import profile_table

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (2.0, None)], "a double, b double"
    )
    got = {r.col_name: r for r in profile_table(df, ["a", "b"]).collect()}
    assert (got["a"].n_rows, got["a"].n_null) == (3, 0)
    assert round(got["a"].distinct_estimate) == 2
    assert (got["b"].n_rows, got["b"].n_null) == (3, 3)
    assert got["b"].distinct_estimate == 0.0


def test_cms_estimates_include_empty_cells(spark):
    """Review regression: a probe key absent from the corpus must get an
    estimate (0 unless every one of its d cells collides), never vanish
    from the output, and min() must include empty counters."""
    from flink_helloworld_spark.operators.rollups import cms_point_estimates

    df = spark.createDataFrame([("a",), ("b",)], "v string")
    probes = spark.createDataFrame([("a",), ("zzz-not-present",)], "v string")
    got = {r.v: r.cms_est for r in cms_point_estimates(df, "v", probes).collect()}
    assert set(got) == {"a", "zzz-not-present"}  # absent probe still emitted
    assert got["a"] >= 1
    assert got["zzz-not-present"] == 0  # 2-key corpus can't fill all 4 cells


def test_histogram_sub_percent_quantiles_honored(spark):
    """Review regression: p99.9 must not be silently snapped to p100 —
    the threshold is the exact rational q, and the label reads p99_9."""
    from flink_helloworld_spark.operators.rollups import histogram_quantiles

    rows = [("g", float(v)) for v in range(1000)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r.quantile: r.value_est
        for r in histogram_quantiles(
            df, "g", "v", bin_width=1.0, quantiles=(0.999, 1.0)
        ).collect()
    }
    assert set(got) == {"p99_9", "p100"}
    # 1000 values 0..999: cum >= 999 first at bin 998 (the 999th order
    # statistic), cum >= 1000 first at bin 999 — the old whole-percent
    # snapping made both thresholds cum >= 1000
    assert got["p99_9"] == 998.0
    assert got["p100"] == 999.0


def test_bm25_query_term_colliding_with_plan_column(spark):
    """Review regression: a query term equal to an internal plan column
    name ('n') must not break the score expression."""
    from flink_helloworld_spark.operators.ranking import bm25_search

    docs = spark.createDataFrame(
        [(1, "n data pipeline"), (2, "data only here"), (3, "nothing at all")],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in bm25_search(docs, ("n", "data"), topn=3).collect()}
    assert 1 in got and 2 in got


def test_twostar_matches_minlabel_on_chain_and_forest(spark):
    from flink_helloworld_spark.operators import dedup as D

    # long chain (adversarial for min-label: diameter = n) + a triangle
    # + an isolated pair
    chain = [(i, i + 1) for i in range(100, 140)]
    tri = [(1, 2), (2, 3), (1, 3)]
    pair = [(900, 901)]
    pairs = spark.createDataFrame(chain + tri + pair, "doc_a long, doc_b long")
    a = {(r.doc_id, r.cluster_id, r.cluster_size)
         for r in D.duplicate_clusters(pairs, max_iters=50).collect()}
    b = {(r.doc_id, r.cluster_id, r.cluster_size)
         for r in D.duplicate_clusters_twostar(pairs).collect()}
    assert a == b
    assert (100, 100, 41) in b and (901, 900, 2) in b and (3, 1, 3) in b


def test_twostar_random_graphs_match_union_find(spark):
    import random

    from flink_helloworld_spark.operators import dedup as D

    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = sorted({
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(5, 80))
        })
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        from collections import Counter

        roots = {x: min(y for y in range(n) if find(y) == find(x))
                 for x in range(n)}
        touched = {u for e in edges for u in e}
        sizes = Counter(roots[x] for x in touched)
        expect = {(x, roots[x], sizes[roots[x]]) for x in touched}
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {(r.doc_id, r.cluster_id, r.cluster_size)
               for r in D.duplicate_clusters_twostar(pairs).collect()}
        assert got == expect, f"trial {trial}"


def test_twostar_raises_rather_than_emitting_unconverged_state(spark):
    # review finding: an exhausted round cap must raise — the members
    # derivation is only valid at the fixpoint, and truncation produced
    # structurally invalid multi-membership rows
    import pytest

    from flink_helloworld_spark.operators import dedup as D

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters_twostar(chain, max_iters=2)
    # and the default cap converges fine on the same graph
    out = D.duplicate_clusters_twostar(chain).collect()
    assert all(r.cluster_id == 0 and r.cluster_size == 51 for r in out)
    assert len(out) == 51


@pytest.mark.slow
def test_auto_cc_dispatches_by_measured_diameter(spark):
    """VERDICT r7 item 7: the auto closure must (a) resolve a shallow graph
    via min-label WITHOUT ever invoking two-star (the common-case
    cost), and (b) fall back to two-star when the probe cap exhausts
    on a long chain — with labels identical to an uncapped min-label
    run either way."""
    from flink_helloworld_spark.operators import dedup as D

    # (a) shallow forest: triangle + pair — min-label converges in the
    # probe; two-star must not be touched (monkeypatch proves it)
    shallow = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (900, 901)], "doc_a long, doc_b long"
    )
    orig_twostar = D.duplicate_clusters_twostar

    def _boom(*a, **k):
        raise AssertionError("two-star invoked on a shallow graph")

    D.duplicate_clusters_twostar = _boom
    try:
        got = {
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in D.duplicate_clusters_auto(shallow).collect()
        }
    finally:
        D.duplicate_clusters_twostar = orig_twostar
    assert got == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3), (900, 900, 2), (901, 900, 2),
    }

    # (b) 41-node chain: diameter 40 > probe_rounds=8 — the probe must
    # exhaust and the two-star fallback must produce min-label labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "doc_a long, doc_b long"
    )
    auto = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in D.duplicate_clusters_auto(chain, probe_rounds=8).collect()
    }
    ref = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in D.duplicate_clusters(chain, max_iters=50).collect()
    }
    assert auto == ref
    assert (100, 100, 41) in auto
    # the consumers run this closure
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100, 141)], "doc_id long, text string"
    )
    pruned = D.cluster_prune(docs, chain).collect()
    assert {r.doc_id for r in pruned} == {100}
    assert pruned[0].dups_removed == 40


@pytest.mark.slow
def test_cluster_consumers_label_identical_under_twostar(spark, monkeypatch):
    """VERDICT r6 item 4: the three cluster-consuming operators
    (soft_dedup_weights, leakage_safe_split, cluster_prune) run
    ``duplicate_clusters_auto`` and must produce row-identical output
    when two-star is forced in its place, on a chain + triangle +
    singleton mix. The 41-node adversarial chain, past min-label's
    default round budget, flows through all three consumers: min-label
    alone still REFUSES to emit an unconverged label table there (the
    silent-under-merge bug this test caught), and the consumers get the
    two-star answer instead of that error."""
    from flink_helloworld_spark.operators import dedup as D

    # chain within min-label's default budget + a triangle
    chain = [(i, i + 1) for i in range(100, 118)]
    tri = [(1, 2), (2, 3), (1, 3)]
    pairs = spark.createDataFrame(chain + tri, "doc_a long, doc_b long")
    node_ids = sorted({u for e in chain + tri for u in e} | {500, 501})
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in node_ids], "doc_id long, text string"
    )
    consumers = (D.soft_dedup_weights, D.leakage_safe_split, D.cluster_prune)
    auto = [sorted(map(tuple, op(docs, pairs).collect())) for op in consumers]
    monkeypatch.setattr(D, "duplicate_clusters_auto", D.duplicate_clusters_twostar)
    forced = [sorted(map(tuple, op(docs, pairs).collect())) for op in consumers]
    monkeypatch.undo()
    assert auto == forced

    # the 41-node adversarial chain: diameter > min-label's default
    # budget — min-label raises instead of silently under-merging, and
    # every consumer converges through the two-star fallback
    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "doc_a long, doc_b long"
    )
    ldocs = spark.createDataFrame(
        [(i, f"t {i}") for i in range(100, 141)] + [(500, "solo")],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(long_chain)
    surv = {r.doc_id for r in D.cluster_prune(ldocs, long_chain).collect()}
    assert surv == {100, 500}
    w = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in D.soft_dedup_weights(ldocs, long_chain).collect()
    }
    assert all(w[i] == (100, 41) for i in range(100, 141))
    assert w[500] == (500, 1)
    split = {
        r.doc_id: (r.cluster_id, r.split)
        for r in D.leakage_safe_split(ldocs, long_chain).collect()
    }
    assert len({split[i] for i in range(100, 141)}) == 1
    assert split[100][0] == 100 and split[500][0] == 500


def test_cluster_balanced_sample_quota_and_determinism(spark):
    """Diversity sampling contract: every k-means cluster contributes
    exactly min(|cluster|, per_cluster) keeps with contiguous 1..n
    pick ranks, every vector gets a verdict, and a rerun is
    bit-identical (md5-rank selection, no randomness)."""
    from pyspark.sql import functions as F

    from flink_helloworld_spark.operators.clustering import (
        cluster_balanced_sample,
    )
    from flink_helloworld_spark.operators.similarity import planted_embeddings

    ids = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
    )
    planted = planted_embeddings(ids).select("vec_id", "embedding")
    rows = cluster_balanced_sample(planted, per_cluster=5).collect()
    assert len(rows) == 300  # verdict for every vector
    by_c: dict = {}
    for r in rows:
        by_c.setdefault(r.cluster_id, []).append(r)
    assert len(by_c) > 1  # planted data actually clusters
    for cid, rs in by_c.items():
        ranks = sorted(r.pick_rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), cid
        kept = [r for r in rs if r.kept]
        assert len(kept) == min(5, len(rs)), cid
        assert all(r.pick_rank <= 5 for r in kept)
    again = cluster_balanced_sample(planted, per_cluster=5).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_textrank_hub_outranks_leaves_and_isolates(spark):
    from flink_helloworld_spark.operators.ranking import textrank_scores

    # star graph: "hub" co-occurs with every leaf; leaves only with hub.
    # "lone" appears in a single-token doc => no edges => PR = 1-d
    docs = spark.createDataFrame(
        [
            (0, "hub aa hub bb hub cc hub dd", "en", "s", 1),
            (1, "hub ee hub ff", "en", "s", 1),
            (2, "lone", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.word: r.textrank for r in textrank_scores(docs).collect()}
    leaves = [got[w] for w in ["aa", "bb", "cc", "dd", "ee", "ff"]]
    assert got["hub"] > max(leaves)
    assert abs(got["lone"] - round(1.0 - 0.85, 6)) < 1e-9
    # leaves split into the two docs' weights but all are strictly
    # positive and below the hub
    assert all(v > 0 for v in leaves)


def test_textrank_matches_sequential_power_iteration(spark):
    import hashlib
    from collections import defaultdict

    from flink_helloworld_spark.operators.ranking import textrank_scores

    texts = [
        "aa bb cc aa bb",
        "cc dd ee ff aa",
        "ff gg aa cc cc dd",
        "hh",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", 1) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # sequential reference with the same rounding ladder
    und = defaultdict(int)
    nodes = set()
    for t in texts:
        ws = t.split()
        nodes.update(ws)
        for p, w in zip(ws, ws[1:]):
            if p != w:
                und[(min(p, w), max(p, w))] += 1
    edges = defaultdict(list)
    wdeg = defaultdict(int)
    for (a, b), c in und.items():
        edges[a].append((b, c))
        edges[b].append((a, c))
        wdeg[a] += c
        wdeg[b] += c

    import math

    def r9(x):
        return math.copysign(math.floor(abs(x) * 1e9 + 0.5) / 1e9, x)

    pr = {w: 1.0 for w in nodes}
    for _ in range(4):
        incoming = defaultdict(int)  # exact decimal sum as scaled int
        for u, outs in edges.items():
            for v, c in outs:
                incoming[v] += int(r9(0.85 * (c / wdeg[u]) * pr[u]) * 1e9 + (
                    0.5 if r9(0.85 * (c / wdeg[u]) * pr[u]) >= 0 else -0.5))
        pr = {
            w: r9((1.0 - 0.85) + incoming.get(w, 0) / 1e9) for w in nodes
        }
    expect = {w: round(v, 6) for w, v in pr.items()}
    got = {r.word: r.textrank for r in textrank_scores(docs).collect()}
    assert got == expect


def test_pca_power_scores_recover_planted_direction(spark):
    """Power-iteration PCA on a corpus with a planted dominant
    direction: scores must match numpy's exact top-eigenvector
    projection up to sign (|corr| > 0.999), and the planted coefficient
    ordering must survive."""
    import numpy as np

    from flink_helloworld_spark.operators.clustering import pca_power_scores

    rng = np.random.default_rng(7)
    d = rng.standard_normal(64)
    d /= np.linalg.norm(d)
    coef = rng.standard_normal(200) * 5.0           # dominant component
    noise = rng.standard_normal((200, 64)) * 0.1
    x = coef[:, None] * d[None, :] + noise
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.pc1 for r in pca_power_scores(emb).collect()}
    xc = x.astype(np.float64)
    xc = xc - xc.mean(axis=0)
    _, _, vt = np.linalg.svd(xc, full_matrices=False)
    ref = xc @ vt[0]
    g = np.array([got[i] for i in range(200)])
    corr = np.corrcoef(g, ref)[0, 1]
    assert abs(corr) > 0.999


def test_embedding_covariance_matches_numpy(spark):
    """Relational outer-product covariance equals numpy's biased
    covariance matrix to 9-dp-ladder tolerance, diagonal = variances."""
    import numpy as np

    from flink_helloworld_spark.operators.clustering import embedding_covariance

    rng = np.random.default_rng(3)
    x = rng.standard_normal((100, 64))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    got = {(r.pos_a, r.pos_b): r.cov for r in embedding_covariance(emb).collect()}
    assert len(got) == 64 * 65 // 2
    xd = x.astype(np.float32).astype(np.float64)  # engine sees float32
    ref = np.cov(xd, rowvar=False, bias=True)
    for (a, b), cv in got.items():
        assert a <= b
        assert abs(cv - ref[a, b]) < 1e-6


def test_embedding_covariance_rejects_nan_and_oversized(spark):
    """The nano-lattice partial sums are exact only for finite centered
    products with |p| <= 100: a NaN embedding, or one far off the mean,
    raises instead of casting garbage into ``cov``."""
    from flink_helloworld_spark.operators.clustering import embedding_covariance

    for bad in (float("nan"), 1e3):
        rows = [(i, [float(i % 3), 1.0, 2.0 * i]) for i in range(6)]
        rows[2] = (2, [bad, 1.0, 4.0])
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="exact nano-lattice range"):
            embedding_covariance(emb, dim=3).collect()


def test_embedding_covariance_partial_flush_is_bit_identical(spark, monkeypatch):
    """Emitting the int64 nano accumulator after every 1024-row chunk
    (the overflow guard fires every 65,536 chunks by default) gives the
    bit-identical covariance: the DECIMAL(38,0) fold sums any number of
    partials exactly."""
    import numpy as np

    from flink_helloworld_spark.operators import clustering

    rng = np.random.default_rng(5)
    x = rng.standard_normal((3000, 8))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(3000)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)  # one task, three chunks
    once = sorted(clustering.embedding_covariance(emb, dim=8).collect())
    monkeypatch.setattr(clustering, "_NANO_FLUSH_CHUNKS", 1)
    per_chunk = sorted(clustering.embedding_covariance(emb, dim=8).collect())
    assert len(once) == 8 * 9 // 2
    assert per_chunk == once


def test_embedding_standardize_zero_mean_unit_var(spark):
    """z-scores have ~0 mean and ~1 variance per dimension; a constant
    dimension standardizes to 0.0 instead of NULL/inf."""
    import numpy as np

    from flink_helloworld_spark.operators.clustering import embedding_standardize

    rng = np.random.default_rng(5)
    x = rng.standard_normal((80, 64)) * 3.0 + 2.0
    x[:, 7] = 4.25  # constant dimension
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    rows = embedding_standardize(emb).collect()
    assert len(rows) == 80 * 64
    by_pos: dict[int, list[float]] = {}
    for r in rows:
        by_pos.setdefault(r.pos, []).append(r.z)
    assert all(v == 0.0 for v in by_pos[7])
    for pos, zs in by_pos.items():
        if pos == 7:
            continue
        assert abs(float(np.mean(zs))) < 1e-6
        assert abs(float(np.var(zs)) - 1.0) < 1e-4


# --- reciprocal rank fusion ---------------------------------------------------


class TestRrfFuse:
    def _ranked(self, spark, pairs):
        return spark.createDataFrame(pairs, "doc_id long, rank int")

    def test_closed_form_fusion(self, spark):
        from flink_helloworld_spark.operators.ranking import rrf_fuse

        a = self._ranked(spark, [(1, 1), (2, 2), (3, 3)])
        b = self._ranked(spark, [(3, 1), (1, 2), (4, 3)])
        rows = {r.doc_id: r for r in rrf_fuse([a, b], k=60, topn=10).collect()}
        # doc 1: 1/61 + 1/62; doc 3: 1/63 + 1/61; doc 2: 1/62; doc 4: 1/63
        assert rows[1].rrf_score == 1 / 61 + 1 / 62
        assert rows[3].rrf_score == 1 / 63 + 1 / 61
        assert rows[2].rrf_score == 1 / 62
        assert rows[4].rrf_score == 1 / 63
        # both-list docs outrank single-list docs; rank_1/rank_2 carried
        assert rows[1].rrf_rank == 1 and rows[3].rrf_rank == 2
        assert rows[1].rank_1 == 1 and rows[1].rank_2 == 2
        assert rows[2].rank_2 is None and rows[4].rank_1 is None

    def test_topn_cut_and_tiebreak(self, spark):
        from flink_helloworld_spark.operators.ranking import rrf_fuse

        # docs 10 and 20 tie exactly (same ranks in mirrored lists) —
        # the (score desc, id) total order must break the tie by id
        a = self._ranked(spark, [(10, 1), (20, 2)])
        b = self._ranked(spark, [(20, 1), (10, 2)])
        rows = rrf_fuse([a, b], topn=1).collect()
        assert len(rows) == 1 and rows[0].doc_id == 10

    def test_three_list_fusion(self, spark):
        from flink_helloworld_spark.operators.ranking import rrf_fuse

        a = self._ranked(spark, [(1, 1)])
        b = self._ranked(spark, [(1, 1), (2, 2)])
        c = self._ranked(spark, [(2, 1)])
        rows = {r.doc_id: r for r in rrf_fuse([a, b, c], k=60, topn=5).collect()}
        assert rows[1].rrf_score == 1 / 61 + 1 / 61
        assert rows[2].rrf_score == 1 / 62 + 1 / 61
        assert rows[1].rank_3 is None and rows[2].rank_1 is None

    def test_quality_prior_ranking_monotone(self, spark, sf_dir):
        from flink_helloworld_spark.operators.ranking import quality_prior_ranking
        from flink_helloworld_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir).documents
        rows = quality_prior_ranking(docs, topn=50).orderBy("rank").collect()
        assert rows[0].rank == 1
        for prev, cur in zip(rows, rows[1:]):
            assert cur.rank == prev.rank + 1
            assert cur.quality_score <= prev.quality_score


def _hilbert_xy2d_ref(bits, x, y):
    # reference implementation (the n-1-x textbook walk the engine
    # unrolls) for cross-checking the staged-projection form
    n = 1 << bits
    d, s = 0, n // 2
    x, y = x % n, y % n
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_files_bound_both_dimensions_tighter_than_z(spark):
    from flink_helloworld_spark.operators.layout import (
        hilbert_layout_stats,
        zorder_layout_stats,
    )

    grid = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x bigint, y bigint"
    )
    stats = hilbert_layout_stats(grid, "x", "y", bits=5, file_bits=4).collect()
    assert len(stats) == 16
    span = 0
    for r in stats:
        assert r.n_rows == 64
        # Hilbert files cover 8x8 blocks too — never WORSE than Z
        assert r.max_x - r.min_x <= 7 and r.max_y - r.min_y <= 7
        span += (r.max_x - r.min_x + 1) * (r.max_y - r.min_y + 1)
    zspan = sum(
        (r.max_x - r.min_x + 1) * (r.max_y - r.min_y + 1)
        for r in zorder_layout_stats(
            grid, "x", "y", bits=5, file_bits=4
        ).collect()
    )
    # total covered area (pruning tightness) at least as good as Z
    assert span <= zspan


def test_hilbert_key_matches_reference_walk(spark):
    # the staged-projection unrolling IS the textbook walk: pin the
    # full 16x16 grid (bijection over 0..255 by construction of the
    # reference) plus wrap-around inputs against the Python reference
    from flink_helloworld_spark.operators.layout import hilbert_layout_stats

    bits = 4
    pts = [(x, y) for x in range(16) for y in range(16)] + [
        (16 + 3, 32 + 5),  # masked inputs wrap like the reference
        (54321, 99991),
    ]
    grid = spark.createDataFrame(pts, "x bigint, y bigint")
    # file_bits = 2*bits => file_id IS the full hilbert key
    stats = hilbert_layout_stats(
        grid, "x", "y", bits=bits, file_bits=2 * bits
    ).collect()
    # exact check: one key per (x,y) cell via the singleton files
    singles = {
        (r.min_x, r.min_y): r.file_id
        for r in stats
        if r.n_rows == 1 and r.min_x == r.max_x and r.min_y == r.max_y
    }
    for (x, y), fid in singles.items():
        assert fid == _hilbert_xy2d_ref(bits, x, y), (x, y)
    # all 256 in-range cells are singleton files (bijection)
    assert sum(1 for (x, y) in singles if x < 16 and y < 16) >= 254


def test_hilbert_unit_step_adjacency(spark):
    # the defining Hilbert property (what Z-order lacks): consecutive
    # keys are always grid-adjacent — sort the full grid by key and
    # every step moves exactly 1 in exactly one dimension
    from flink_helloworld_spark.operators.layout import hilbert_layout_stats

    bits = 4
    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x bigint, y bigint"
    )
    stats = hilbert_layout_stats(
        grid, "x", "y", bits=bits, file_bits=2 * bits
    ).collect()
    path = sorted((r.file_id, r.min_x, r.min_y) for r in stats)
    assert [k for k, _, _ in path] == list(range(256))
    for (_, x0, y0), (_, x1, y1) in zip(path, path[1:]):
        assert abs(x1 - x0) + abs(y1 - y0) == 1


def test_phrase_search_consecutive_and_overlapping(spark):
    from flink_helloworld_spark.operators.ranking import phrase_search

    docs = _docs(
        spark,
        [
            (1, "a b a b a"),      # "a b" twice; "b a" twice
            (2, "b a x a b"),      # "a b" once at pos 4
            (3, "a x b"),          # tokens present but not adjacent
            (4, "a b"),            # exact doc == phrase
            (5, "a"),              # shorter than the phrase
        ],
    )
    out = {
        r.doc_id: r
        for r in phrase_search(docs, phrase=("a", "b")).collect()
    }
    assert set(out) == {1, 2, 4}  # adjacency required, not containment
    assert out[1].n_matches == 2 and out[1].first_pos == 1
    assert out[2].n_matches == 1 and out[2].first_pos == 4
    assert out[4].n_matches == 1 and out[4].first_pos == 1
    # overlapping windows each count: "a a a" vs ("a", "a")
    tri = {
        r.doc_id: r.n_matches
        for r in phrase_search(
            _docs(spark, [(9, "a a a")]), phrase=("a", "a")
        ).collect()
    }
    assert tri[9] == 2


def test_fuzzy_term_search_edit_distance_one(spark):
    from flink_helloworld_spark.operators.ranking import fuzzy_term_search

    docs = _docs(
        spark,
        [
            (1, "data dada datum date"),  # sub / sub / 2-edits / sub
            (2, "dat datas adata"),       # deletion / insertion / prepend-insertion
            (3, "nothing matches here"),
            (4, "data data"),             # exact twice
        ],
    )
    out = {
        r.doc_id: r
        for r in fuzzy_term_search(docs, term="data", max_edits=1).collect()
    }
    assert set(out) == {1, 2, 4}
    # datum is 2 edits away -> excluded; date/dada are 1 substitution
    assert out[1].n_hits == 3 and out[1].variants == "dada,data,date"
    assert out[2].n_hits == 3 and out[2].variants == "adata,dat,datas"
    assert out[4].n_hits == 2 and out[4].variants == "data"


def test_indexed_search_twins_equal_scan_paths(spark):
    """phrase_search_indexed / fuzzy_term_search_indexed are
    OUTPUT-IDENTICAL to their scan-path siblings on any corpus —
    including overlapping matches of a repeated-token phrase, docs
    shorter than the phrase, and a prebuilt postings artifact."""
    from flink_helloworld_spark.operators.ranking import (
        fuzzy_term_search,
        fuzzy_term_search_indexed,
        phrase_search,
        phrase_search_indexed,
        positional_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),        # overlapping ('a','a') matches
            (2, "x a y data"),
            (3, "the data is the data"),
            (4, "the"),            # shorter than the phrase
            (5, "dada date data daze"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    for phrase in (("the", "data"), ("a", "a"), ("data",)):
        a = sorted(map(tuple, phrase_search(docs, phrase).collect()))
        b = sorted(
            map(tuple, phrase_search_indexed(docs, phrase).collect())
        )
        assert a == b, phrase
    # prebuilt artifact path (build once / query many)
    post = positional_postings(docs)
    b2 = sorted(
        map(
            tuple,
            phrase_search_indexed(
                docs, ("the", "data"), postings=post
            ).collect(),
        )
    )
    assert b2 == sorted(
        map(tuple, phrase_search(docs, ("the", "data")).collect())
    )
    for term, k in (("data", 1), ("data", 2), ("zzz", 1)):
        c = sorted(map(tuple, fuzzy_term_search(docs, term, k).collect()))
        d = sorted(
            map(
                tuple, fuzzy_term_search_indexed(docs, term, k).collect()
            )
        )
        assert c == d, (term, k)


def test_phrase_search_slop_semantics(spark):
    """Ordered sloppy phrase: slop=0 IS the exact phrase (row-for-row
    equal to phrase_search on any corpus — the cross-pin), the gap
    budget is TOTAL across gaps, order is required (reversed terms
    never match), tuple counting is slop-bounded, and the store probe
    resolves it identically."""
    from flink_helloworld_spark.operators.ranking import (
        phrase_search,
        phrase_search_slop,
        positional_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "the data is the data"),     # exact x2
            (2, "the big data"),             # gap 1
            (3, "the very big data"),        # gap 2
            (4, "the way too big data"),     # gap 3 (out at slop=2)
            (5, "data the"),                 # reversed: never matches
            (6, "the a data b the data"),    # mixed gaps
            (7, "a a a b"),
        ],
        "doc_id long, text string",
    )
    # slop=0 == exact phrase, including overlapping repeated tokens
    for phrase in (("the", "data"), ("a", "a")):
        assert sorted(
            map(tuple, phrase_search_slop(docs, phrase, slop=0).collect())
        ) == sorted(map(tuple, phrase_search(docs, phrase).collect()))

    got = {
        r.doc_id: r
        for r in phrase_search_slop(
            docs, ("the", "data"), slop=2
        ).collect()
    }
    assert 4 not in got and 5 not in got
    # (p1=1,p2=2) gap 0; (p1=1,p2=5) gap 3 -> OUT; (p1=4,p2=5) gap 0
    assert got[1].n_matches == 2 and got[1].first_pos == 1
    assert got[2].n_matches == 1 and got[2].first_pos == 1
    assert got[3].n_matches == 1
    # doc 6: 'the'@1, data@3 (gap 1 ok), 'the'@5, data@6 (gap 0),
    # the@1→data@6 gap 4 out, the@5→data@3 reversed out -> 2 tuples
    assert got[6].n_matches == 2 and got[6].first_pos == 1

    # three-term phrase with a TOTAL budget: 'x a y b z c' vs (a, b, c)
    docs3 = spark.createDataFrame(
        [(1, "a y b z c"), (2, "a y y b z z c")],
        "doc_id long, text string",
    )
    s2 = {
        r.doc_id: r.n_matches
        for r in phrase_search_slop(docs3, ("a", "b", "c"), slop=2).collect()
    }
    assert s2 == {1: 1}  # doc2 needs total gap 4 > 2

    # prebuilt-postings path identical
    post = positional_postings(docs)
    assert sorted(
        map(
            tuple,
            phrase_search_slop(
                docs, ("the", "data"), slop=2, postings=post
            ).collect(),
        )
    ) == sorted(
        map(tuple, phrase_search_slop(docs, ("the", "data"), slop=2).collect())
    )


def test_symspell_fuzzy_matches_scan_and_prunes(spark, tmp_path):
    """The symmetric-delete fuzzy index: candidates cover EXACTLY the
    Levenshtein<=1 edit ball (substitution / insertion / deletion all
    reachable through intersecting deletion neighborhoods; 2-edit
    terms verified away), the full artifact path equals the scan form
    on every probe, an empty edit ball returns an empty frame, and
    the candidate scan partition-prunes on driver-computed keys."""
    from flink_helloworld_spark.operators.ranking import (
        fuzzy_term_search,
        fuzzy_term_search_symspell,
        positional_postings,
        postings_store_write,
        symspell_candidates,
        symspell_write,
    )

    docs = spark.createDataFrame(
        [
            (1, "data dada datum date"),
            (2, "dat datas adata"),
            (3, "nothing matches here"),
            (4, "data data"),
        ],
        "doc_id long, text string",
    )
    base = str(tmp_path)
    ppath, spath = base + "/postings", base + "/symspell"
    posts = positional_postings(docs)
    postings_store_write(posts, ppath, num_buckets=8)
    symspell_write(posts, spath, num_buckets=8)

    # candidate set == the true edit ball over the vocabulary
    got_cand = sorted(
        r.w
        for r in symspell_candidates(
            spark, spath, "data", 1, num_buckets=8
        ).collect()
    )
    assert got_cand == ["adata", "dada", "dat", "data", "datas", "date"]
    # full artifact path == scan form, on hit and miss probes
    for term in ("data", "zzz"):
        assert sorted(
            map(
                tuple,
                fuzzy_term_search_symspell(
                    spark, ppath, spath, term, 1, num_buckets=8
                ).collect(),
            )
        ) == sorted(
            map(tuple, fuzzy_term_search(docs, term, 1).collect())
        ), term
    # the candidate scan partition-prunes on the driver-computed keys
    plan = symspell_candidates(
        spark, spath, "data", 1, num_buckets=8
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [dkey_bucket" in plan
    assert "In(dkey" in plan


def test_postings_store_roundtrip_and_probe_parity(spark, tmp_path):
    """The persisted text-index store: write/read round-trips the
    exact posting set, appends compose (new documents' postings land
    beside the old — the ivf_index_append shape), a pruned probe
    yields the same rows as filtering the full artifact, and BOTH
    search twins resolved through the store equal their scan paths —
    including a phrase term whose store bucket holds other terms
    (hash-collision safety: the term filter still applies after
    partition pruning)."""
    from flink_helloworld_spark.operators.ranking import (
        fuzzy_term_search,
        fuzzy_term_search_indexed,
        phrase_search,
        phrase_search_indexed,
        positional_postings,
        postings_store_probe,
        postings_store_read,
        postings_store_write,
    )

    docs = spark.createDataFrame(
        [
            (1, "the data is the data"),
            (2, "x a y data"),
            (3, "dada date data daze"),
            (4, "the"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    more = spark.createDataFrame(
        [(6, "the data returns"), (7, "no match")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    postings_store_write(positional_postings(docs), path, num_buckets=4)
    postings_store_write(positional_postings(more), path, num_buckets=4)
    both = docs.unionByName(more)

    key = lambda r: (r.term, r.doc_id, r.pos)  # noqa: E731
    assert sorted(
        map(key, postings_store_read(spark, path).collect())
    ) == sorted(map(key, positional_postings(both).collect()))
    # probe == filtered full artifact (4 buckets force collisions)
    probe = postings_store_probe(
        spark, path, ("the", "data"), num_buckets=4
    )
    assert sorted(map(key, probe.collect())) == sorted(
        map(
            key,
            positional_postings(both)
            .where(F.col("term").isin(["the", "data"]))
            .collect(),
        )
    )
    # store-resolved twins == scan paths
    assert sorted(
        map(
            tuple,
            phrase_search_indexed(
                both, ("the", "data"), postings=probe
            ).collect(),
        )
    ) == sorted(map(tuple, phrase_search(both, ("the", "data")).collect()))
    store_post = postings_store_read(spark, path)
    assert sorted(
        map(
            tuple,
            fuzzy_term_search_indexed(
                both, "data", 1, postings=store_post
            ).collect(),
        )
    ) == sorted(map(tuple, fuzzy_term_search(both, "data", 1).collect()))


def test_postings_store_delete_compact_lifecycle(spark, tmp_path):
    """The text-index deletion seam (Lucene deleted-docs set): after
    postings_store_delete, every read/probe is the live view
    (merge-on-read anti-join) BEFORE compaction; compaction rewrites
    ONLY buckets holding a deleted doc's postings (untouched partition
    listings byte-identical), drops partitions it empties, clears the
    deletes set (second compact = no-op), and the compacted store
    equals the store built WITHOUT the deleted documents. Deleting
    absent ids is a no-op; search through the scrubbed store equals
    the scan path over the surviving corpus."""
    import os

    from flink_helloworld_spark.operators.ranking import (
        phrase_search,
        phrase_search_indexed,
        positional_postings,
        postings_store_compact,
        postings_store_delete,
        postings_store_probe,
        postings_store_read,
        postings_store_write,
    )

    docs = spark.createDataFrame(
        [
            (1, "the data is the data"),
            (2, "x a y data"),
            (3, "unique3only here"),
            (4, "the data returns"),
            (5, "no match"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    postings_store_write(positional_postings(docs), path, num_buckets=8)

    dead = spark.createDataFrame([(3,), (4,), (999,)], "doc_id long")
    postings_store_delete(spark, path, dead)
    survivors = docs.where(~F.col("doc_id").isin([3, 4]))
    key = lambda r: (r.term, r.doc_id, r.pos)  # noqa: E731
    want_live = sorted(map(key, positional_postings(survivors).collect()))

    # merge-on-read BEFORE compaction: read and probe are both live
    assert sorted(
        map(key, postings_store_read(spark, path).collect())
    ) == want_live
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

    def listing(bucket: int) -> list[str]:
        d = os.path.join(path, f"term_bucket={bucket}")
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    before = {b: listing(b) for b in range(8)}
    # which buckets SHOULD be touched: those holding docs 3/4 postings
    want_touched = sorted(
        r[0]
        for r in spark.read.parquet(path)
        .where(F.col("doc_id").isin([3, 4]))
        .select("term_bucket")
        .distinct()
        .collect()
    )
    touched = postings_store_compact(spark, path, num_buckets=8)
    assert touched == want_touched and touched
    after = {b: listing(b) for b in range(8)}
    for b in range(8):
        if b not in touched:
            assert after[b] == before[b]  # byte-listing untouched
    # the deletes set is gone and a second compact is a no-op
    assert not os.path.isdir(os.path.join(path, "_deletes"))
    assert postings_store_compact(spark, path, num_buckets=8) == []
    # compacted store == store built without the deleted docs
    assert sorted(
        map(key, postings_store_read(spark, path).collect())
    ) == want_live
    # doc 3's vocabulary ('unique3only') left its bucket entirely:
    # if that bucket held nothing else it must be dropped from disk
    remaining = {
        r[0]
        for r in spark.read.parquet(path)
        .select("term_bucket")
        .distinct()
        .collect()
    }
    for b in touched:
        assert (b in remaining) == bool(after[b])


def test_bm25_store_form_equals_scan_and_survives_scrub(spark, tmp_path):
    """BM25 resolved from the persisted postings + norms sidecar (the
    Lucene layout) is output-identical to the text-scan form —
    including a zero-token document, which only the norms can
    represent in N/avgdl — and after delete+compact the store form
    scores exactly the surviving corpus."""
    from flink_helloworld_spark.operators.ranking import (
        bm25_search,
        positional_postings,
        postings_store_compact,
        postings_store_delete,
        postings_store_norms,
        postings_store_probe,
        postings_store_write,
        postings_store_write_norms,
    )

    docs = spark.createDataFrame(
        [
            (1, "the data is the data"),
            (2, "x a y data"),
            (3, "the quick fox"),
            (4, ""),  # zero-token doc: counted in N, never in postings
            (5, "data data data pipeline"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    postings_store_write(positional_postings(docs), path, num_buckets=8)
    postings_store_write_norms(docs, path)
    terms = ("the", "data")

    def store_rows():
        return sorted(
            map(
                tuple,
                bm25_search(
                    docs,
                    terms,
                    postings=postings_store_probe(
                        spark, path, terms, num_buckets=8
                    ),
                    norms=postings_store_norms(spark, path),
                ).collect(),
            )
        )

    assert store_rows() == sorted(
        map(tuple, bm25_search(docs, terms).collect())
    )

    # scrub doc 1 (the top hit) and doc 4 (norms-only): the store form
    # must rescore to the scan form over the survivors — merge-on-read
    # first, compacted after
    postings_store_delete(
        spark, path, spark.createDataFrame([(1,), (4,)], "doc_id long")
    )
    survivors = docs.where(~F.col("doc_id").isin([1, 4]))
    want = sorted(map(tuple, bm25_search(survivors, terms).collect()))
    assert store_rows() == want  # merge-on-read
    postings_store_compact(spark, path, num_buckets=8)
    assert store_rows() == want  # compacted (norms folded too)


def test_layout_masks_negative_inputs_nonnegative(spark):
    """The pmod contract (ADVICE r9): negative coordinates map into
    [0, 2^bits) before the bit walks, so zorder/hilbert keys for a
    negative input equal the keys of its pmod image — no sign leak
    into shifts/bitwiseAND."""
    from flink_helloworld_spark.operators.layout import (
        hilbert_layout_stats,
        zorder_layout_stats,
    )

    bits = 5
    neg = spark.createDataFrame(
        [(-1, -33), (-32, 7), (3, -4)], "x long, y long"
    )
    pos = spark.createDataFrame(
        [((-1) % 32, (-33) % 32), ((-32) % 32, 7), (3, (-4) % 32)],
        "x long, y long",
    )

    def keys(df, fn):
        # file_bits = 2*bits => file_id IS the full curve key
        return sorted(
            r.file_id
            for r in fn(df, "x", "y", bits=bits, file_bits=2 * bits)
            .collect()
        )

    for fn in (hilbert_layout_stats, zorder_layout_stats):
        assert keys(neg, fn) == keys(pos, fn), fn.__name__
