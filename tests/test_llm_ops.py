"""Dedup / similarity / text / multimodal operators on constructed inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_helloworld_spark.operators import dedup as D
from flink_helloworld_spark.operators import multimodal as MM
from flink_helloworld_spark.operators import similarity as S
from flink_helloworld_spark.operators import text as T


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_minhash_identical_docs_are_dup(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(spark, [text, text, "completely different words here apple banana cherry date"])
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} >= {(0, 1)}
    exact = {(r.doc_a, r.doc_b): r for r in pairs}
    assert exact[(0, 1)].jaccard == 1.0 and exact[(0, 1)].is_dup


def test_minhash_near_dup_detected(spark):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    near = base + " mike"  # one extra word
    docs = _docs(spark, [base, near])
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    assert len(pairs) == 1 and pairs[0].jaccard > 0.8


def test_num_hashes_beyond_minhash_params_raises_at_build(spark, tmp_path):
    """A signature holds at most len(MINHASH_PARAMS) permutations. Past
    that, the audit divided a truncated signature's matches by the asked
    count (63/65 on near-identical docs) and 96 hashes failed inside a
    task; the batch audit and the streaming gate now refuse at build
    time, and the full 64 still runs."""
    from flink_helloworld_spark.streaming.tws import streaming_lsh_dedup

    base = " ".join(f"w{i}" for i in range(60))
    docs = _docs(spark, [base, base.replace("w59", "x59")])
    k = len(D.MINHASH_PARAMS)
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path)
    )
    for n in (k + 1, 96):
        with pytest.raises(ValueError, match="num_hashes"):
            D.minhash_estimate_audit(docs, num_hashes=n, bands=32)
        with pytest.raises(ValueError, match="num_hashes"):
            streaming_lsh_dedup(stream, num_hashes=n, bands=32)
    (row,) = D.minhash_estimate_audit(docs, num_hashes=k, bands=32).collect()
    assert abs(row.est_jaccard - row.jaccard) < 0.1


def test_simhash_similar_docs_close(spark):
    base = "one two three four five six seven eight nine ten " * 5
    docs = _docs(spark, [base, base + "eleven", "zz yy xx ww vv uu tt ss rr qq " * 5])
    got = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[0], got[1]) < hamming(got[0], got[2])


def test_exact_duplicates_counts(spark):
    docs = _docs(spark, ["a b c", "a b c", "d e f"])
    got = {r.keep_doc_id: r.n_copies for r in D.exact_duplicates(docs).collect()}
    assert got == {0: 2, 2: 1}


def test_cosine_topk_orders_by_similarity(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),  # closest to 0
            (2, [0.0, 1.0], 1),  # orthogonal to 0
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in S.cosine_topk(emb, k=2).collect()
    }
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2


def test_lsh_topk_subset_of_bruteforce_candidates(spark, sf_dir):
    from flink_helloworld_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir).embeddings
    import math

    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, k=3).collect()}
    approx_rows = S.lsh_cosine_topk(emb, k=3, planes=4).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    # VALIDITY: every reported cosine must equal the true cosine of that
    # pair (not just "some pair exists")
    for r in approx_rows:
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert abs(r.cosine - dot / (na * nb)) < 1e-6
    # RECALL floor: measured 0.165 on this deterministic corpus at
    # planes=4 (16 buckets / 500 vectors — deliberately aggressive);
    # a bucketing regression (hashing the wrong column) lands near 3/500
    assert len(approx & exact) / len(exact) > 0.1


def test_quality_score_components(spark):
    good = "the cat and the dog sat of the mat to rest for a while today"
    bad = "!!! ??? !!! ??? !!! ??? !!! ???"
    docs = _docs(spark, [good, bad])
    got = {r.doc_id: r for r in T.quality_score(docs).collect()}
    assert got[0].quality_score > got[1].quality_score
    assert got[0].stopword_ratio > 0 and got[1].stopword_ratio == 0


def test_lang_id_marker_detection(spark):
    docs = _docs(spark, ["the cat and the dog of a house", "der hund und die katze ist das"])
    got = {r.doc_id: r.pred_lang for r in T.lang_id(docs).collect()}
    assert got == {0: "en", 1: "de"}


def test_fingerprint_normalization(spark):
    docs = _docs(spark, ["Hello   World  Foo Bar Baz", "hello world foo bar baz"])
    got = [r.content_fp for r in T.fingerprint(docs).collect()]
    assert got[0] == got[1]  # whitespace + case normalized away


def test_multimodal_decode_deterministic(spark):
    docs = _docs(spark, ["some document content", "other content"])
    media = MM.attach_binary(docs)
    feats = {r.doc_id: r for r in MM.decode_image_features(media).collect()}
    assert all(1 <= f.width <= 64 and 1 <= f.height <= 64 for f in feats.values())
    again = {r.doc_id: r for r in MM.decode_image_features(media).collect()}
    assert {k: (v.width, v.height) for k, v in feats.items()} == {
        k: (v.width, v.height) for k, v in again.items()
    }


def test_frame_sample_counts(spark):
    docs = _docs(spark, ["x" * 25])  # 25 bytes → frames 0,10,20
    media = MM.attach_binary(docs)
    frames = [r.frame_index for r in MM.frame_sample(media, every_n=10).collect()]
    assert frames == [0, 10, 20]


def test_frame_sample_empty_payload_has_no_frames(spark):
    """ADVICE r1: a zero-byte payload must emit zero rows (not a phantom
    frame 0), matching the oracle's size > 0 exclusion."""
    docs = _docs(spark, ["", "ab"])
    media = MM.attach_binary(docs)
    rows = MM.frame_sample(media, every_n=10).collect()
    assert [(r.frame_index) for r in rows] == [0]  # only the 2-byte doc


def test_pii_scrub_redacts_and_counts(spark):
    from flink_helloworld_spark.operators import text as T

    docs = _docs(
        spark,
        ["contact bob@example.com or https://foo.bar/x?id=1 call 12345678 now"],
    )
    (row,) = T.pii_scrub(docs).collect()
    assert (row.n_email, row.n_url, row.n_digits) == (1, 1, 1)
    assert row.clean_text == "contact <EMAIL> or <URL> call <DIGITS> now"


def test_repetition_stats_flags_boilerplate(spark):
    from flink_helloworld_spark.operators import text as T

    docs = _docs(spark, ["spam spam spam spam", "all words here differ", "x"])
    got = {r.doc_id: r for r in T.repetition_stats(docs).collect()}
    spammy, clean, tiny = got[0], got[1], got[2]
    assert spammy.n_bigrams == 3 and spammy.dup_bigram_frac > 0.6
    assert spammy.top_bigram_frac == 1.0  # one bigram everywhere
    assert clean.dup_bigram_frac == 0.0
    assert (tiny.n_bigrams, tiny.dup_bigram_frac) == (0, 0.0)  # <2 words


def test_deterministic_sampling_is_stable_and_disjoint(spark, sf_dir):
    from flink_helloworld_spark.operators.sampling import (
        deterministic_sample,
        train_holdout_split,
    )
    from flink_helloworld_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir).documents
    a = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    b = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    assert a == b and 0 < len(a) < docs.count()  # reproducible, non-trivial
    # repartitioning must not change membership (the df.sample failure mode)
    c = {
        r.doc_id
        for r in deterministic_sample(docs.repartition(7), "doc_id", 0.3)
        .select("doc_id")
        .collect()
    }
    assert a == c
    split = train_holdout_split(docs, "doc_id", 0.1).select("doc_id", "split").collect()
    assert {r.split for r in split} == {"train", "holdout"}
    assert len(split) == docs.count()  # exhaustive, disjoint by construction


def test_exact_sharded_topk_matches_numpy_model(spark, sf_dir):
    """cosine_topk_exact_sharded (2-D block BLAS, no driver collect)
    must reproduce the full all-pairs rounded-ranking result exactly:
    an independent in-test NumPy model computes every pair, rounds
    half-away to 6 dp, and ranks by (cosine desc, neighbor id)."""
    import numpy as np

    from flink_helloworld_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir).embeddings
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = np.inf
    mat_n = mat / norms[:, None]
    sims = mat_n @ mat_n.T
    sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
    np.fill_diagonal(sims, -np.inf)
    expect = {}
    for i in range(len(ids)):
        order = np.lexsort((ids, -sims[i]))[:5]
        for rank, j in enumerate(order, start=1):
            expect[(ids[i], rank)] = (ids[j], sims[i][j])
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in S.cosine_topk_exact_sharded(emb, k=5).collect()
    }
    assert got == expect


def test_exact_sharded_topk_degenerate_shards(spark):
    """Shard counts larger than the corpus and single-shard configs both
    stay exact (empty blocks, self-only blocks)."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    for g, h in [(1, 1), (8, 8)]:
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in S.cosine_topk_exact_sharded(
                emb, k=2, q_shards=g, c_shards=h
            ).collect()
        }
        assert got[(0, 1)] == 1 and got[(0, 2)] == 2


def test_ivf_topk_structure_and_determinism(spark, sf_dir):
    """IVF ANN: ranks contiguous from 1, neighbors distinct per query,
    cosines in range, and the whole thing reproducible (deterministic
    centroids — no fitted state). Value semantics are pinned by the
    DuckDB oracle (similarity_ivf_topk)."""
    from flink_helloworld_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir).embeddings
    rows = S.ivf_cosine_topk(emb, k=5, n_centroids=16, n_probe=2).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert -1.000001 <= r.cosine <= 1.000001
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), q
        assert len({r.neighbor_id for r in rs}) == len(rs), q
    again = S.ivf_cosine_topk(emb, k=5, n_centroids=16, n_probe=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_soft_dedup_weights_equalize_content_mass(spark):
    """Soft dedup: cluster members share weight 1/size, singletons keep
    1.0, and total weight == number of distinct content clusters (the
    equal-expected-mass invariant the reweighting exists for)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = _docs(spark, [base, base, base, "totally unrelated words apple banana cherry date elderberry fig grape"])
    pairs = D.minhash_dedup_pairs(docs).where("is_dup")
    got = {r.doc_id: r for r in D.soft_dedup_weights(docs, pairs).collect()}
    assert len(got) == 4  # every corpus row comes back
    trip = [got[i] for i in (0, 1, 2)]
    assert {t.cluster_id for t in trip} == {0} and all(t.cluster_size == 3 for t in trip)
    assert all(abs(t.weight - 1 / 3) < 1e-12 for t in trip)
    assert got[3].cluster_size == 1 and got[3].weight == 1.0
    assert abs(sum(r.weight for r in got.values()) - 2.0) < 1e-9  # 2 clusters


def test_leakage_safe_split_never_straddles_clusters(spark):
    """The split unit is the cluster: every member of a near-dup
    cluster lands on the same side, deterministically."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = [base, base, base + " extra", "totally unrelated words apple banana cherry date elderberry fig grape"]
    docs = _docs(spark, texts)
    pairs = D.minhash_dedup_pairs(docs).where("is_dup")
    rows = D.leakage_safe_split(docs, pairs).collect()
    assert len(rows) == 4
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    for cid, splits in by_cluster.items():
        assert len(splits) == 1, (cid, splits)  # no cluster straddles
    again = D.leakage_safe_split(docs, pairs).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_minhash_band_plan_scurve_properties(spark):
    """The layout planner's S-curve arithmetic: exact duplicates are
    caught with probability 1 under EVERY layout; with the hash budget
    fixed, recall and wasted-verification rate are both monotone in the
    band count (more, shorter bands = looser gate)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    docs = _docs(spark, [base, base, near, "totally unrelated words apple banana cherry date elderberry fig grape"])
    rows = {(r.bands, r.rows_per_band): r for r in D.minhash_band_plan(docs).collect()}
    assert set(rows) == {(1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1)}
    by_bands = [rows[k] for k in sorted(rows)]  # ascending bands
    for r in by_bands:
        assert r.n_pairs == by_bands[0].n_pairs  # same audited pair set
        assert 0.0 <= r.dup_recall <= 1.0
    # the exact-dup pair (jaccard 1.0) keeps every layout's recall > 0;
    # monotone: more bands => higher recall AND higher wasted rate
    for a, b in zip(by_bands, by_bands[1:]):
        assert b.dup_recall >= a.dup_recall - 1e-12
        if a.nondup_catch_rate is not None and b.nondup_catch_rate is not None:
            assert b.nondup_catch_rate >= a.nondup_catch_rate - 1e-12
    # single-band single-row layout (b=1, r=12): recall = mean(j^12) of
    # dup pairs; the exact-dup contributes exactly 1.0
    assert rows[(12, 1)].dup_recall > 0.99  # 12 bands of 1 row ~ catches all


def _ids_only_emb(spark, n=200):
    # planted_embeddings derives vectors purely from vec_id — the
    # embedding payload is irrelevant, so a bare id table suffices
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).cast("array<float>").alias("embedding"),
    )


def test_planted_embeddings_structure_and_determinism(spark):
    """The planted mixture must be (a) deterministic, (b) strongly
    clusterable: within-cluster cosine far above cross-cluster — the
    property that makes ANN recall measurable at all."""
    import math

    emb = _ids_only_emb(spark, 64)
    rows = S.planted_embeddings(emb).collect()
    again = S.planted_embeddings(emb).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_id = {r.vec_id: (r.cluster_id, r.embedding) for r in rows}
    assert all(cl == vid % 16 for vid, (cl, _) in by_id.items())

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    within, cross = [], []
    ids = sorted(by_id)
    for i in ids:
        for j in ids:
            if i < j:
                c = cos(by_id[i][1], by_id[j][1])
                (within if by_id[i][0] == by_id[j][0] else cross).append(c)
    assert min(within) > 0.8  # same planted center, +/-0.3 noise
    assert max(cross) < 0.7  # 64-dim random centers are near-orthogonal
    assert sum(within) / len(within) - sum(cross) / len(cross) > 0.5


def test_ann_recall_curve_fused_arms_match_standalone(spark):
    """The fused sweep's probe-rank / XOR-prefix filters must reproduce
    the standalone operators bit-for-bit — this is the claim that lets
    one shared candidate table price all knobs."""
    emb = _ids_only_emb(spark, 160)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    curve = {
        (r.variant, r.knob): r
        for r in S.ann_recall_curve(emb, k=5, n_probes=(1, 2), lsh_planes=(4, 6)).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk_exact_sharded(planted, k=5).collect()
    }
    for n_probe in (1, 2):
        stand = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_cosine_topk(planted, k=5, n_probe=n_probe).collect()
        }
        row = curve[("ivf", n_probe)]
        assert row.n_ann == len(stand)
        assert row.n_hits == len(stand & exact)
        assert row.n_exact == len(exact)
    for planes in (4, 6):
        # the curve's LSH arms carry the rounded-cosine BLAS ranking
        # contract — the standalone twin is the vectorized sharded
        # kernel (same candidate set as lsh_cosine_topk, rounded ranks)
        stand = {
            (r.query_id, r.neighbor_id)
            for r in S.cosine_topk_vectorized_sharded(
                planted, k=5, planes=planes
            ).collect()
        }
        row = curve[("lsh", planes)]
        assert row.n_ann == len(stand)
        assert row.n_hits == len(stand & exact)


def test_ivfk_refinement_buys_recall_on_planted_data(spark):
    """The Lloyd-refined coarse quantizer must (a) keep the IVF output
    contract (ranks contiguous, deterministic) and (b) beat-or-match
    the raw md5-seed quantizer's recall at EQUAL n_probe on clustered
    data — the reason a production index build refines at all."""
    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk_exact_sharded(planted, k=5).collect()
    }
    rows = S.ivfk_cosine_topk(planted, k=5, n_probe=2).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    again = S.ivfk_cosine_topk(planted, k=5, n_probe=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    ivfk = {(r.query_id, r.neighbor_id) for r in rows}
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_cosine_topk(planted, k=5, n_probe=2).collect()
    }
    assert len(ivfk & exact) >= len(ivf & exact)


def test_ivf2k_refinement_buys_recall_on_planted_data(spark):
    """The two-level index with Lloyd-refined quantizers at both levels
    must (a) keep the IVF output contract (contiguous ranks,
    deterministic reruns) and (b) beat-or-match the md5-seed two-level
    index's recall at EQUAL (n_super_probe, n_probe) on clustered data
    — VERDICT r6 item 5's acceptance bar."""
    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk_exact_sharded(planted, k=5).collect()
    }
    rows = S.ivf2k_cosine_topk(
        planted, k=5, n_probe=2, n_super_probe=2
    ).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    again = S.ivf2k_cosine_topk(
        planted, k=5, n_probe=2, n_super_probe=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    ivf2k = {(r.query_id, r.neighbor_id) for r in rows}
    ivf2 = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf2_cosine_topk(
            planted, k=5, n_probe=2, n_super_probe=2
        ).collect()
    }
    assert len(ivf2k & exact) >= len(ivf2 & exact)


def test_indexed_query_parity_with_fused_ivf2k(spark):
    """The r8 build/query split's core contract (VERDICT r7 item 1):
    querying the indexed corpus against its own prebuilt artifact at
    equal probes returns EXACTLY the fused ivf2k_cosine_topk output —
    same quantizer training, same routing, zero drift. Also pins the
    production seam itself: the artifact survives a parquet round-trip
    (write → read → identical query result), which is what 'build once,
    query many' means on a lake."""
    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    index, postings = S.build_ivf_index(planted)
    got = sorted(
        map(
            tuple,
            S.ivf_index_query(
                index, postings, planted, k=5, n_probe=2, n_super_probe=2
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            S.ivf2k_cosine_topk(
                planted, k=5, n_probe=2, n_super_probe=2
            ).collect(),
        )
    )
    assert got == want and len(got) > 0

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        index.write.parquet(f"{d}/index")
        postings.write.parquet(f"{d}/postings")
        reloaded = sorted(
            map(
                tuple,
                S.ivf_index_query(
                    spark.read.parquet(f"{d}/index"),
                    spark.read.parquet(f"{d}/postings"),
                    planted,
                    k=5,
                    n_probe=2,
                    n_super_probe=2,
                ).collect(),
            )
        )
    assert reloaded == want


def test_indexed_recall_equals_fused_at_equal_probes(spark):
    """'Recall table unchanged at equal probes' — the r8 acceptance
    criterion: the indexed path's recall@5 at n_probe=2 must equal the
    fused ivf2k arm's recall computed against the same exact baseline,
    and the curve must be non-decreasing in n_probe."""
    emb = _ids_only_emb(spark, 192)
    curve = {
        r.n_probe: r
        for r in S.ivf_indexed_recall_curve(
            emb, k=5, n_probes=(1, 2, 4)
        ).collect()
    }
    assert set(curve) == {1, 2, 4}
    assert curve[1].recall <= curve[2].recall <= curve[4].recall
    # cross-check the n_probe=2 cell against an independently computed
    # fused-ivf2k recall over the same planted table
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk_exact_sharded(planted, k=5).collect()
    }
    fused = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf2k_cosine_topk(
            planted, k=5, n_probe=2, n_super_probe=2
        ).collect()
    }
    assert curve[2].n_hits == len(fused & exact)
    assert curve[2].n_exact == len(exact)


def test_ivf_index_append_order_invariant_and_routed(spark):
    """The FAISS add() path: appending new vectors through the existing
    artifact in ANY batch split equals routing everything at once
    (per-row-independent routing), every member lands in exactly one
    existing cell, and the index itself is untouched."""
    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    base = planted.where("vec_id % 2 = 0")
    inc = planted.where("vec_id % 2 = 1")
    index, postings = S.build_ivf_index(base)

    grown = S.ivf_index_append(index, postings, inc)
    # all-at-once routing through the same artifact
    at_once = S.ivf_index_append(index, postings.limit(0), planted)
    key = lambda r: (r.centroid_id, r.member_id)  # noqa: E731
    assert sorted(map(key, grown.collect())) == sorted(
        map(key, at_once.collect())
    )
    rows = grown.collect()
    assert len(rows) == 192  # every vector posts exactly once
    cells = {
        r.centroid_id for r in index.where("level = 1").collect()
    }
    assert {r.centroid_id for r in rows} <= cells
    # two-batch incremental split equals the one-batch append
    inc_a = inc.where("vec_id % 4 = 1")
    inc_b = inc.where("vec_id % 4 = 3")
    twostep = S.ivf_index_append(
        index, S.ivf_index_append(index, postings, inc_a), inc_b
    )
    assert sorted(map(key, twostep.collect())) == sorted(
        map(key, grown.collect())
    )


def test_sq_postings_roundtrip_bounded_error(spark):
    """The codes-only artifact: decode(encode(postings)) keeps every
    (centroid_id, member_id) row with per-dimension error bounded by
    scale/2, and the indexed query over the reconstructed postings
    returns well-formed contiguous-rank output."""
    import numpy as np

    emb = _ids_only_emb(spark, 128)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    index, postings = S.build_ivf_index(planted)
    coded, stats = S.sq_encode_postings(postings)
    decoded = S.sq_decode_postings(coded, stats)
    orig = {r.member_id: np.array(r.mvec) for r in postings.collect()}
    st = stats.first()
    half = np.array(st.scale) / 2.0 + 1e-12
    for r in decoded.collect():
        err = np.abs(np.array(r.mvec) - orig[r.member_id])
        assert (err <= half).all(), r.member_id
    out = S.ivf_index_query(
        index, decoded, planted.where("vec_id % 8 = 0"), k=5
    ).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert by_q and all(
        sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values()
    )


def test_ivf_index_manifest_accounting(spark):
    """Manifest invariants a lake deployment would range-check before
    swapping the live index: every corpus vector lands in exactly one
    posting list (level-1 cell_size sums to N), every cell is homed in
    exactly one super (level-2 cell_size sums to C), and norms are
    finite non-negative."""
    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    rows = S.ivf_index_manifest(planted).collect()
    l1 = [r for r in rows if r.level == 1]
    l2 = [r for r in rows if r.level == 2]
    assert sum(r.cell_size for r in l1) == 192
    assert sum(r.cell_size for r in l2) == len(l1)
    assert all(r.super_id is not None for r in l1)
    assert all(r.super_id is None for r in l2)
    assert {r.super_id for r in l1} <= {r.centroid_id for r in l2}
    assert all(r.cnorm >= 0 for r in rows)


def test_ann_recall_curve_rises_on_structured_data(spark):
    """On planted (clusterable) data the curve must be informative:
    IVF recall non-decreasing in n_probe and near-perfect at the
    deepest probe; LSH recall non-increasing in planes. A flat curve
    means the index ignores its knob."""
    emb = _ids_only_emb(spark, 200)
    rows = S.ann_recall_curve(
        emb, k=5, n_probes=(1, 2, 4, 8), lsh_planes=(4, 6, 8)
    ).collect()
    ivf = {r.knob: r.recall for r in rows if r.variant == "ivf"}
    lsh = {r.knob: r.recall for r in rows if r.variant == "lsh"}
    assert ivf[1] <= ivf[2] <= ivf[4] <= ivf[8]
    assert ivf[8] > 0.95
    assert ivf[8] - ivf[1] > 0.01  # the knob must actually move recall
    assert lsh[4] >= lsh[6] >= lsh[8]  # fewer planes = bigger buckets


def test_sharded_vectorized_topk_matches_lsh(spark, sf_dir):
    """The sharded BLAS kernel scores the same candidate set as
    lsh_cosine_topk; neighbor rankings must agree everywhere except
    rounded-cosine ties (where the sharded kernel's id-asc tiebreak on
    the ROUNDED value may legitimately reorder near-equal neighbors)."""
    from flink_helloworld_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir).embeddings
    lsh = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in S.lsh_cosine_topk(emb, k=3, planes=8).collect()
    }
    fast = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in S.cosine_topk_vectorized_sharded(emb, k=3, planes=8).collect()
    }
    assert set(lsh) == set(fast)
    for key in lsh:
        assert abs(lsh[key][1] - fast[key][1]) < 1e-6
    agree = sum(1 for key in lsh if lsh[key][0] == fast[key][0])
    assert agree / len(lsh) > 0.99


def test_mixture_quota_sample_exact_counts(spark):
    from flink_helloworld_spark.operators.sampling import mixture_quota_sample

    rows = [(i, "en" if i % 3 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mixture_quota_sample(
        df, "lang", "doc_id", {"en": 5, "de": 100}, default_quota=0
    )
    counts = {r.lang: r.cnt for r in out.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    assert counts["en"] == 5          # quota enforced
    assert counts["de"] == 20         # clamped at stratum size
    # prefix consistency: raising a quota only adds rows
    small = {r.doc_id for r in out.where("lang = 'en'").collect()}
    bigger = mixture_quota_sample(df, "lang", "doc_id", {"en": 9}, default_quota=0)
    big = {r.doc_id for r in bigger.collect()}
    assert small <= big


def test_pack_sequences_contiguous_chunks(spark):
    from flink_helloworld_spark.operators.sampling import pack_sequences

    rows = [(i, 700) for i in range(40)]  # 700-token docs, 2048 capacity
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, "doc_id", "n_tokens", capacity=2048, shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(out) == 40
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.start_offset)
        # offsets are the exclusive cumsum: contiguous, gap-free stream
        expect = 0
        for r in rs:
            assert r.start_offset == expect
            assert r.chunk_id == r.start_offset // 2048
            end_chunk = (r.start_offset + r.n_tokens - 1) // 2048
            assert r.spans_boundary == (end_chunk != r.chunk_id)
            expect += r.n_tokens


def test_ngram_decontaminate_flags_overlap(spark):
    from flink_helloworld_spark.operators.dedup import ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "he said the quick brown fox jumps high today"),  # shares 5-grams
            (2, "completely unrelated sentence with other words entirely"),
            (3, "too short"),  # < 5 words: no shingles, must still appear
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_decontaminate(corpus, bench, n=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].contaminated and out[1].n_hit_ngrams >= 1
    assert not out[2].contaminated and out[2].n_hit_ngrams == 0
    assert not out[3].contaminated


def test_histogram_quantiles_bounded_error(spark, sf_dir):
    """Estimate is within one bin of the DISCRETE percentile (the
    ceil(qN)-th order statistic) — the operator's actual guarantee;
    interpolated percentiles can drift further across sparse gaps."""
    import math

    from flink_helloworld_spark.operators.rollups import histogram_quantiles
    from flink_helloworld_spark.sources.tables import load_tables

    ev = load_tables(spark, sf_dir).events
    est = {
        (r.event_type, r.quantile): r.value_est
        for r in histogram_quantiles(ev, "event_type", "value", 5.0).collect()
    }
    by_type: dict[str, list[float]] = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    for etype, vals in by_type.items():
        vals.sort()
        for q, qname in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            disc = vals[max(math.ceil(q * len(vals)) - 1, 0)]
            assert abs(est[(etype, qname)] - disc) <= 5.0, (etype, qname)


def test_incremental_dedup_classification(spark):
    from flink_helloworld_spark.operators.dedup import incremental_dedup

    existing = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [(10, "alpha"),   # in corpus
         (11, "gamma"),   # new
         (12, "gamma"),   # dup of 11 within the batch
         (13, "delta")],  # new
        "doc_id long, text string",
    )
    out = {r.doc_id: r.status for r in incremental_dedup(existing, incoming).collect()}
    assert out == {10: "dup_of_corpus", 11: "new", 12: "dup_in_batch", 13: "new"}


def test_incremental_near_dedup_classification(spark):
    from flink_helloworld_spark.operators.dedup import incremental_near_dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near_corpus = base.replace("today", "tonight")  # high-Jaccard variant
    existing = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus text about spark engines")],
        "doc_id long, text string",
    )
    other = "distributed query planning over columnar parquet data at scale works"
    incoming = spark.createDataFrame(
        [
            (10, near_corpus),                      # near-dup of corpus doc 1
            (11, other),                            # new (first arrival)
            (12, other.replace("works", "well")),   # near-dup of 11 in batch
            (13, "short"),                          # shingle-less -> new
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.status
        for r in incremental_near_dedup(existing, incoming).collect()
    }
    assert out == {
        10: "near_dup_of_corpus",
        11: "new",
        12: "near_dup_in_batch",
        13: "new",
    }
    # precedence: a doc that is near-dup of BOTH corpus and batch
    # classifies as corpus (same rule as the exact operator)
    inc2 = spark.createDataFrame(
        [(20, near_corpus), (21, base)], "doc_id long, text string"
    )
    out2 = {
        r.doc_id: r.status
        for r in incremental_near_dedup(existing, inc2).collect()
    }
    assert out2 == {20: "near_dup_of_corpus", 21: "near_dup_of_corpus"}


def test_pq_assign_nearest_codebook_entry(spark):
    from flink_helloworld_spark.operators.similarity import pq_assign

    # 8-dim vectors, m=2 subspaces of 4 dims, ksub=2 centroids.
    # md5-rank picks two of the vectors as codebook entries; every
    # vector's code must point at the sub-distance-minimizing entry.
    import hashlib

    vecs = {
        1: [0.0] * 4 + [9.0] * 4,
        2: [1.0] * 4 + [0.0] * 4,
        3: [0.9] * 4 + [8.5] * 4,
        4: [0.1] * 4 + [0.2] * 4,
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    out = {r.vec_id: (r.code_0, r.code_1) for r in
           pq_assign(df, m=2, ksub=2, dims=8).collect()}
    ranked = sorted(vecs, key=lambda i: (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), i))
    cents = ranked[:2]  # cid 0, 1 in rank order
    f32 = lambda xs: [float(__import__("numpy").float32(x)) for x in xs]
    for vid, v in vecs.items():
        for j, (lo, hi) in enumerate([(0, 4), (4, 8)]):
            dists = [
                (round(sum((a - b) * (a - b) for a, b in
                           zip(f32(v[lo:hi]), f32(vecs[c][lo:hi]))) * 1e6), cid)
                for cid, c in enumerate(cents)
            ]
            expect = min(dists)[1]
            assert out[vid][j] == expect, (vid, j)


def test_containment_catches_boilerplate_wrap(spark):
    """A doc wrapped in heavy boilerplate has low Jaccard but high
    containment (core ⊂ wrapped) — containment_pairs must flag it."""
    core = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    wrapped = (
        "nav home about products contact login register search menu footer "
        + core
        + " copyright terms privacy cookies sitemap newsletter subscribe social"
    )
    docs = spark.createDataFrame(
        [(1, core), (2, wrapped)], "doc_id long, text string"
    )
    out = D.containment_pairs(docs, threshold=0.8).collect()
    assert len(out) == 1
    (r,) = out
    assert r.containment_a_in_b >= 0.99      # core fully inside wrapped
    assert r.containment_b_in_a < 0.5        # far from symmetric-dup
    # symmetric Jaccard would NOT have called this a dup at 0.5
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    assert all(not p.is_dup for p in pairs)


def test_audio_decode_deterministic_windows(spark):
    docs = _docs(spark, ["short clip", "a somewhat longer audio document body"])
    media = MM.attach_binary(docs)
    texts = {r.doc_id: r.text for r in media.join(
        _docs(spark, ["short clip", "a somewhat longer audio document body"])
        .select("doc_id", "text"), "doc_id").collect()}
    out = {r.doc_id: r for r in MM.decode_audio_features(media).collect()}
    for doc_id, r in out.items():
        assert r.sample_rate in (8000, 16000, 22050, 44100)
        assert r.duration_ms == len(texts[doc_id].encode()) * 10
        assert r.n_windows == (r.duration_ms + 249) // 250
        assert 0 <= r.rms_q < 1000 and r.decode_ok
    again = {r.doc_id: r.rms_q for r in MM.decode_audio_features(media).collect()}
    assert again == {k: v.rms_q for k, v in out.items()}


def test_audio_decode_ignores_an_importable_soundfile(spark, monkeypatch):
    # non-RIFF payloads take the deterministic fake whatever audio
    # libraries the driver can import
    import sys
    import types

    monkeypatch.setitem(sys.modules, "soundfile", types.ModuleType("soundfile"))
    docs = _docs(spark, ["short clip", "a somewhat longer audio document body"])
    out = MM.decode_audio_features(MM.attach_binary(docs)).collect()
    assert len(out) == 2 and all(r.decode_ok for r in out)


# checksum of every payload builder on a fixed 3-text input: pins header
# fields no decoder reads (WAV byte rate, ADPCM block align, AVI strh/strf)
_PAYLOAD_CHECKSUMS = {
    "attach_binary": [
        "187ef4436122d1cc2f40dc2b92f0eba0",
        "30f3c93e46436deb58ba70816a8ec124",
        "65dda5a93ac0ceb837ea52ce021b2fb3",
    ],
    "attach_ppm_binary": [
        "4f8c7f6c207d8f0c938dd2582eafd912",
        "7a820e3ed3fe2b5a699d69858e18f105",
        "1b70976de362976ccc2876a8a3f654fe",
    ],
    "attach_png_binary": [
        "e830a333f3085ae966145ebbeabb04f7",
        "d1162624fde433fd1c385a0e44aa237d",
        "254c5defae4d7a34632c737006508eed",
    ],
    "attach_wav_binary": [
        "c435a1a6cf1e0f4ce020f848abfd6b6f",
        "4cbf75f501763f5274498b8cc318cf6b",
        "74da255e6ec439456504a06f6f8c8252",
    ],
    "attach_mulaw_binary": [
        "a13c02f44a477a653e2784f75dde8636",
        "8010c39caa4d5a15b11f77e748f97d8b",
        "dff2a924de53a8ed493562ba735fe3e6",
    ],
    "attach_adpcm_binary": [
        "50847823b8bb63e9fd17bc8dbe14fd93",
        "19af3fcbdfc0f20197493bbad97a563d",
        "ded6c2ab074bd4a29cbd716a88804c3c",
    ],
    "attach_avi_binary": [
        "b151346ccdf13230bf86a0c1db6a366e",
        "bbe4b92c4d98550c82c9d505b69367ff",
        "c3d69c2ceb89e1e47e5e5d0872ebf06d",
    ],
}


@pytest.mark.parametrize("builder", sorted(_PAYLOAD_CHECKSUMS))
def test_payload_builder_checksums_are_pinned(spark, builder):
    docs = _docs(spark, ["ab", "the quick brown fox", "some longer words in here now"])
    rows = sorted(getattr(MM, builder)(docs).collect(), key=lambda r: r.doc_id)
    assert [r.checksum for r in rows] == _PAYLOAD_CHECKSUMS[builder]


def test_ivfpq_topk_recall_and_determinism(spark, sf_dir):
    """IVF+PQ ADC search: structural invariants (contiguous ranks,
    distinct neighbors, bounded cosines), determinism across runs
    (md5-rank centroids + codebooks — no fitted state), and meaningful
    recall@1 against the raw-vector IVF path over the SAME probed cells
    (PQ quantizes distances, so top-1 should usually survive the
    compress-then-rerank funnel). Value semantics are pinned by the
    DuckDB oracle (similarity_ivfpq_topk)."""
    from flink_helloworld_spark.operators._cache import release_shared_caches
    from flink_helloworld_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir).embeddings
    rows = S.ivfpq_topk(emb, k=5, n_centroids=16, n_probe=2, rerank=16).collect()
    release_shared_caches()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert -1.000001 <= r.cosine <= 1.000001
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), q
        assert len({r.neighbor_id for r in rs}) == len(rs), q
    again = S.ivfpq_topk(emb, k=5, n_centroids=16, n_probe=2, rerank=16).collect()
    release_shared_caches()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # funnel equivalence: with rerank >= any cell's candidate count the
    # ADC prune is a no-op, so IVF+PQ must reproduce raw-vector IVF
    # exactly (same probed cells, same exact re-rank; cosine rounded 6dp)
    ivf = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in S.ivf_cosine_topk(emb, k=5, n_centroids=16, n_probe=2).collect()
    }
    release_shared_caches()
    full = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in S.ivfpq_topk(
            emb, k=5, n_centroids=16, n_probe=2, rerank=1_000_000
        ).collect()
    }
    release_shared_caches()
    assert set(ivf) == set(full)
    for key in ivf:
        assert abs(ivf[key][1] - full[key][1]) < 1e-6
    agree = sum(1 for key in ivf if ivf[key][0] == full[key][0])
    assert agree / len(ivf) > 0.99
    # compressed-prune recall@1 vs the no-prune funnel: ADC on 4×4-bit
    # codes over UNIFORM random vectors is a worst case (cosine spread
    # ~quantization error), so this is a breakage tripwire, not a
    # quality bar — real clustered embeddings do far better
    full_top1 = {q: n for (q, r), (n, _) in full.items() if r == 1}
    pq_top1 = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
    common = set(full_top1) & set(pq_top1)
    assert common
    recall1 = sum(1 for q in common if full_top1[q] == pq_top1[q]) / len(common)
    assert recall1 > 0.4, recall1


def test_kmeans_planted_blobs_separate(spark):
    """Two well-separated blobs must end up in different clusters after
    the Lloyd iterations, whatever the md5 seeding picked."""
    from flink_helloworld_spark.operators import clustering as C

    dim = 8
    rows = []
    for i in range(10):  # blob A: around +1 in dims 0-3
        rows.append((i, [1.0 + 0.01 * i] * 4 + [0.0] * 4))
    for i in range(10, 20):  # blob B: around +1 in dims 4-7
        rows.append((i, [0.0] * 4 + [1.0 + 0.01 * i] * 4))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.cluster_id for r in C.kmeans_assign(emb, k=2, n_iter=2).collect()}
    a_clusters = {out[i] for i in range(10)}
    b_clusters = {out[i] for i in range(10, 20)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters


def test_kmeans_assignment_deterministic(spark, sf_dir):
    from flink_helloworld_spark.operators import clustering as C
    from flink_helloworld_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir).embeddings
    one = sorted(map(tuple, C.kmeans_assign(emb, k=8, n_iter=2).collect()))
    two = sorted(map(tuple, C.kmeans_assign(emb, k=8, n_iter=2).collect()))
    assert one == two
    assert all(0 <= cid < 8 and d >= 0 for (_, cid, d) in one)


def test_kmeans_local_parity(spark, sf_dir):
    """The size-gated driver-local kmeans twin (r11 optimization) is
    BIT-identical to the distributed Lloyd loop — on the float32 corpus
    level AND on the double centroid level (the ``build_ivf_index``
    supers call, whose ``array<float>`` means-funnel the local fold
    must replicate), and a cap below the input size falls back to the
    distributed path unchanged."""
    from flink_helloworld_spark.operators import clustering as C
    from flink_helloworld_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir).embeddings
    dist = sorted(
        (r.cid, tuple(r.cvec))
        for r in C.kmeans_centroids(
            emb, k=8, n_iter=2, local_max_rows=0
        ).collect()
    )
    loc = sorted(
        (r.cid, tuple(r.cvec))
        for r in C.kmeans_centroids(
            emb, k=8, n_iter=2, local_max_rows=1 << 20
        ).collect()
    )
    assert loc == dist  # exact float equality, not approx

    # supers level: DOUBLE input vectors (a centroid table as trainset)
    cent = C.kmeans_centroids(emb, k=8, n_iter=2, local_max_rows=0)
    dist2 = sorted(
        (r.cid, tuple(r.cvec))
        for r in C.kmeans_centroids(
            cent, k=3, n_iter=2, id_col="cid", vec_col="cvec",
            local_max_rows=0,
        ).collect()
    )
    loc2 = sorted(
        (r.cid, tuple(r.cvec))
        for r in C.kmeans_centroids(
            cent, k=3, n_iter=2, id_col="cid", vec_col="cvec",
            local_max_rows=1 << 20,
        ).collect()
    )
    assert loc2 == dist2

    # gate: a cap below the input size takes the distributed path
    # (same result either way — pinned so the fallback stays wired)
    capped = sorted(
        (r.cid, tuple(r.cvec))
        for r in C.kmeans_centroids(
            emb, k=8, n_iter=2, local_max_rows=4
        ).collect()
    )
    assert capped == dist


def test_semantic_dedup_drops_duplicate_keeps_unique(spark):
    """An exact duplicate pair (cosine 1) must lose its higher id;
    an orthogonal singleton must survive."""
    from flink_helloworld_spark.operators import clustering as C

    base = [0.5, 0.1, -0.3, 0.2]
    ortho = [-0.1, 0.5, 0.2, 0.3]
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, ortho)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.is_kept for r in C.semantic_dedup(emb, threshold=0.9, k=2, n_iter=1).collect()}
    assert out[1] is True
    assert out[2] is False  # duplicate of 1, same cluster, cosine 1
    assert out[3] is True


def test_repeated_spans_multiplicity_and_cross_doc(spark):
    """A span shared by two docs AND repeated within one doc must count
    every occurrence; unique spans never appear."""
    shared = "a b c d e"
    docs = _docs(
        spark,
        [
            f"{shared} x y z {shared}",  # doc 0: span twice internally
            f"p q {shared} r s",         # doc 1: once
            "entirely unrelated words only once here",
        ],
    )
    rows = D.repeated_spans(docs, w=5, min_count=2).collect()
    by_occ = {(r.n_occ, r.n_docs) for r in rows}
    # the 'a b c d e' window occurs 3 times across 2 docs
    assert (3, 2) in by_occ
    assert all(r.n_occ >= 2 for r in rows)
    assert all(r.exemplar_doc in (0, 1, 2) for r in rows)


def test_max_span_scrub_removes_planted_span_as_one_run(spark):
    """The VERDICT r7 item-6 acceptance test: a planted duplicated span
    of 2w+3 tokens must come back as ONE maximal span (not ⌈L/w⌉
    windows) in the non-exemplar doc, be absent from the exemplar doc
    (keep_first: one corpus-wide copy survives), and the scrub must cut
    exactly that token range."""
    w = 5
    span_toks = [f"s{i}" for i in range(2 * w + 3)]  # 13 tokens
    span = " ".join(span_toks)
    docs = _docs(
        spark,
        [
            f"alpha beta {span} gamma delta",        # doc 0: exemplar
            f"one two three {span} four five six",   # doc 1: scrubbed
            "entirely unrelated filler words avoiding any window overlap",
        ],
    )
    spans = D.max_spans(docs, w=w, min_count=2).collect()
    assert len(spans) == 1  # ONE maximal run, not w+4 windows
    s = spans[0]
    assert (s.doc_id, s.span_start, s.span_end, s.span_tokens) == (
        1, 3, 3 + 13, 13,
    )
    got = {r.doc_id: r for r in D.max_span_scrub(docs, w=w, min_count=2).collect()}
    assert got[0].scrubbed_tokens == 0  # exemplar keeps its copy
    assert got[0].clean_text == f"alpha beta {span} gamma delta"
    assert got[1].scrubbed_tokens == 13
    assert got[1].clean_text == "one two three four five six"
    assert got[2].scrubbed_tokens == 0
    # detection view (keep_first=False): BOTH occurrences span
    both = D.max_spans(docs, w=w, min_count=2, keep_first=False).collect()
    assert {(r.doc_id, r.span_tokens) for r in both} == {(0, 13), (1, 13)}


def test_max_span_scrub_within_doc_repeat_and_full_scrub(spark):
    """Within-doc second occurrences scrub (the exemplar is positional,
    not per-doc); an exact-duplicate doc scrubs to empty text with
    scrubbed == n_tokens."""
    w = 3
    rep = "a b c d e"
    docs = _docs(
        spark,
        [
            f"{rep} x y z {rep}",  # doc 0: 2nd internal occurrence cut
            rep,                   # doc 1: exact duplicate -> empty
        ],
    )
    got = {r.doc_id: r for r in D.max_span_scrub(docs, w=w, min_count=2).collect()}
    assert got[0].clean_text == f"{rep} x y z"
    assert got[0].scrubbed_tokens == 5
    assert got[1].clean_text == ""
    assert got[1].scrubbed_tokens == got[1].n_tokens == 5


def test_max_spans_detection_view_consistent_with_span_coverage(spark, sf_dir):
    """Cross-operator consistency: max_spans(keep_first=False) merges
    the SAME flagged windows repeated_span_coverage unions — so per
    doc, the sum of detection-view span_tokens must equal
    covered_tokens exactly, on real corpus data (no planted layout)."""
    from flink_helloworld_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir).documents.limit(300)
    spans = (
        D.max_spans(docs, w=10, min_count=2, keep_first=False)
        .groupBy("doc_id")
        .sum("span_tokens")
        .collect()
    )
    got = {r.doc_id: r["sum(span_tokens)"] for r in spans}
    cov = {
        r.doc_id: r.covered_tokens
        for r in D.repeated_span_coverage(docs, w=10, min_count=2).collect()
    }
    assert got  # the corpus genuinely contains duplicated spans
    for doc_id, tok in cov.items():
        assert got.get(doc_id, 0) == tok, doc_id


def test_span_coverage_interval_union_math(spark):
    """Overlapping flagged windows merge (no double count); disjoint
    islands sum; clean docs report zero coverage."""
    docs = _docs(
        spark,
        [
            "x x x x",                    # two overlapping [0,3) [1,4) -> 4/4
            "p q r s t u p q r",          # [0,3) and [6,9) -> 6/9
            "k l m n",                    # unique -> 0/4
        ],
    )
    got = {r.doc_id: r for r in D.repeated_span_coverage(docs, w=3).collect()}
    assert (got[0].covered_tokens, got[0].n_tokens) == (4, 4)
    assert got[0].dup_frac == 1.0
    assert (got[1].covered_tokens, got[1].n_tokens) == (6, 9)
    assert abs(got[1].dup_frac - 6 / 9) < 1e-12
    assert (got[2].covered_tokens, got[2].dup_frac) == (0, 0.0)


def test_ppm_bmp_parsers_real_decode():
    """The netpbm/BMP decoders are REAL parsers, not stubs: exact dims
    from hand-built payloads, comment handling, truncation rejection."""
    import struct

    from flink_helloworld_spark.operators.multimodal import _parse_bmp, _parse_ppm

    assert _parse_ppm(b"P6\n# comment\n4 3\n255\n" + b"x" * 36) == (4, 3, 3)
    assert _parse_ppm(b"P6\n4 3\n255\n" + b"x" * 35) is None  # raster short
    assert _parse_ppm(b"P5 2 2 255 " + b"x" * 4) == (2, 2, 1)  # graymap
    assert _parse_ppm(b"P1\n3 2\n010101") == (3, 2, 1)  # ascii bitmap
    assert _parse_ppm(b"P4\n9 2\n" + b"x" * 4) == (9, 2, 1)  # padded rows
    assert _parse_ppm(b"P4\n9 2\n" + b"x" * 3) is None
    assert _parse_ppm(b"not an image") is None
    bmp_hdr = b"BM" + struct.pack("<IHHI", 54 + 12, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 12, 0, 0, 0, 0)
    assert _parse_bmp(bmp_hdr + dib + b"\x00" * 12) == (2, 2, 3)
    assert _parse_bmp(b"BM too short") is None


def _ref_png(w, h, colortype, raster_rows, filters):
    """Independent PNG encoder for decoder tests: applies the spec's
    filter math FORWARD (the decoder must invert it) and frames chunks
    with real CRCs + a real zlib stream."""
    import struct
    import zlib

    bpp = {0: 1, 2: 3, 6: 4}[colortype]
    out, prev = [], bytes(w * bpp)
    for row, ft in zip(raster_rows, filters):
        fr = bytearray()
        for i, x in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            fr.append((x - pred) & 0xFF)
        out.append(bytes([ft]) + bytes(fr))
        prev = row

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(out)))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_all_filters_and_rejects():
    """_decode_png inverts every scanline filter (None/Sub/Up/Average/
    Paeth) bit-exactly against an independent forward-filtering encoder,
    across gray/RGB/RGBA, and rejects corrupt CRC / truncation /
    unsupported shapes."""
    import random

    from flink_helloworld_spark.operators.multimodal import _decode_png, _parse_png

    rng = random.Random(7)
    for _ in range(25):
        w, h = rng.randint(1, 9), rng.randint(1, 9)
        ct, ch = rng.choice([(0, 1), (2, 3), (6, 4)])
        raster = [bytes(rng.randrange(256) for _ in range(w * ch)) for _ in range(h)]
        filters = [rng.randint(0, 4) for _ in range(h)]
        png = _ref_png(w, h, ct, raster, filters)
        dec = _decode_png(png)
        assert dec is not None
        assert dec[:3] == (w, h, ch)
        assert dec[3] == b"".join(raster)  # defilter recovers the raster
    good = _ref_png(2, 2, 2, [b"\x01" * 6, b"\x02" * 6], [0, 4])
    assert _parse_png(good) == (2, 2, 3)
    bad_crc = bytearray(good)
    bad_crc[20] ^= 0xFF
    assert _parse_png(bytes(bad_crc)) is None
    assert _parse_png(good[:-8]) is None  # missing IEND
    assert _parse_png(b"\x89PNG\r\n\x1a\nnot chunks") is None
    # 16-bit depth unsupported -> clean None, not an exception
    import struct
    import zlib

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))

    deep = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 7))
        + chunk(b"IEND", b"")
    )
    assert _parse_png(deep) is None


def test_png_decode_end_to_end(spark, sf_dir):
    """attach_png_binary builds GENUINE PNG bytes JVM-side (stored-block
    zlib, fold adler32, built-in crc32); the pure-stdlib decoder
    inflates + defilters them and recovers the constructed dims — and
    the payloads are real enough that the independent stdlib zlib path
    in _ref_png's vocabulary (zlib.decompress) accepts the stream."""
    from flink_helloworld_spark.operators.multimodal import (
        _decode_png,
        attach_png_binary,
        decode_image_features,
    )
    from flink_helloworld_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir).documents
    media = attach_png_binary(docs)
    one = media.limit(1).collect()[0]
    assert bytes(one.payload)[:8] == b"\x89PNG\r\n\x1a\n"  # real signature
    assert _decode_png(bytes(one.payload)) is not None  # full chunk/CRC/zlib walk
    out = {r.doc_id: r for r in decode_image_features(media).collect()}
    for d in docs.select("doc_id", "text").collect():
        n = len(d.text)
        r = out[d.doc_id]
        assert (r.width, r.height, r.n_channels, r.decode_ok) == (
            n % 8 + 1,
            (n // 8) % 8 + 1,
            3,
            True,
        )


def test_ppm_decode_end_to_end(spark, sf_dir):
    """attach_ppm_binary builds genuine P6 bytes JVM-side; the decode
    stage parses them for real and recovers the constructed dims."""
    from flink_helloworld_spark.operators.multimodal import (
        attach_ppm_binary,
        decode_image_features,
    )
    from flink_helloworld_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir).documents
    media = attach_ppm_binary(docs)
    one = media.limit(1).collect()[0]
    assert bytes(one.payload)[:3] == b"P6\n"  # real image bytes on the wire
    out = {r.doc_id: r for r in decode_image_features(media).collect()}
    for d in docs.select("doc_id", "text").collect():
        n = len(d.text)
        r = out[d.doc_id]
        assert (r.width, r.height, r.n_channels, r.decode_ok) == (
            n % 8 + 1,
            (n // 8) % 8 + 1,
            3,
            True,
        )


def test_decode_routes_by_media_type_and_flags_corrupt(spark):
    """A fake-typed payload that LOOKS like netpbm still takes the fake
    path (media_type routes), and a corrupt real-typed payload reports
    decode_ok=False instead of poisoning the batch."""
    from flink_helloworld_spark.operators.multimodal import (
        _fake_decode,
        decode_image_features,
    )

    rows = [
        (1, "image/fake", bytearray(b"P3 looks like ppm but is text")),
        (2, "image/x-portable-pixmap", bytearray(b"P6\n4 3\n255\n" + b"x" * 36)),
        (3, "image/x-portable-pixmap", bytearray(b"P6\n4 3\n255\nshort")),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )
    out = {r.doc_id: r for r in decode_image_features(media).collect()}
    fake = _fake_decode(b"P3 looks like ppm but is text")
    assert (out[1].width, out[1].height, out[1].n_channels) == fake
    assert out[1].decode_ok
    assert (out[2].width, out[2].height, out[2].decode_ok) == (4, 3, True)
    assert (out[3].width, out[3].height, out[3].decode_ok) == (0, 0, False)


def test_gopher_rules_flags(spark):
    from flink_helloworld_spark.operators.text import gopher_rules

    rows = [
        # healthy: enough words, stopwords, alpha words
        (1, "the cat and the dog have been to the house of cards with joy"),
        (2, "a b"),  # too few words
        (3, "#### #### #### the be of to and that"),  # symbol-heavy
        (4, "..." + "\n..." * 9),  # every line ends in ellipsis
        (5, ""),  # empty doc fails everything, no divide-by-zero
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_rules(docs, min_words=5).collect()}
    assert out[1].passes_gopher
    assert not out[2].rule_word_count and not out[2].passes_gopher
    assert not out[3].rule_symbol_ratio and not out[3].rule_alpha_words
    assert not out[4].rule_ellipsis_lines
    assert not out[5].passes_gopher  # all-false, not an error


def test_domain_cap_deterministic(spark):
    from flink_helloworld_spark.operators.sampling import domain_cap

    rows = [(i, f"d{i % 3}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_cap(docs, cap=4).collect()
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r.source, []).append(r)
    for dom, rs in by_dom.items():
        assert len(rs) == 10  # every row returned, flagged not filtered
        assert sum(r.kept for r in rs) == 4
        assert sorted(r.domain_rank for r in rs) == list(range(1, 11))
    # md5 order, not arrival order: repartition must not change the keep set
    kept1 = {r.doc_id for r in out if r.kept}
    kept2 = {
        r.doc_id for r in domain_cap(docs.repartition(7), cap=4).collect() if r.kept
    }
    assert kept1 == kept2


def test_semantic_decontaminate_flags_near_benchmark(spark):
    import numpy as np

    from flink_helloworld_spark.operators.similarity import semantic_decontaminate

    rng = [(i, [float((i * 31 + j * 7) % 13) - 6.0 for j in range(64)]) for i in range(40)]
    docs = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    out = semantic_decontaminate(docs, threshold=0.999, n_benchmark=4)
    rows = out.collect()
    assert len(rows) == 36  # benchmark rows excluded from the output
    # every corpus vector scored; self-similar duplicates of benchmark
    # vectors (same generator modulo pattern repeats every 13) flag true
    flagged = [r.vec_id for r in rows if r.is_contaminated]
    top = {r.vec_id: r.max_bench_cosine for r in rows}
    assert flagged  # the 13-periodic duplicates GUARANTEE true positives
    assert all(0.999 <= top[i] for i in flagged)
    assert any(not r.is_contaminated for r in rows)


def test_unigram_logppl_scores(spark):
    import math

    from flink_helloworld_spark.operators.text import unigram_logppl

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a a rare")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logppl(docs).collect()}
    # corpus: a x7, rare x1, total 8 → p(a)=7/8, p(rare)=1/8
    nl_a = round(-math.log(7 / 8), 9)
    nl_r = round(-math.log(1 / 8), 9)
    assert out[1].n_tokens == 4
    assert out[1].mean_neg_logp == round(nl_a, 6)
    assert out[2].mean_neg_logp == round((3 * nl_a + nl_r) / 4, 6)
    assert out[2].mean_neg_logp > out[1].mean_neg_logp  # rare words score high


def test_bigram_logppl_interpolation_and_backoff(spark):
    """Exact hand-computed Jelinek-Mercer scores: first token scores by
    the unigram alone, seen bigrams interpolate λ·p_big + (1-λ)·p_uni,
    and an UNSEEN bigram backs off to (1-λ)·p_uni instead of -ln 0."""
    import math

    from flink_helloworld_spark.operators.text import bigram_logppl

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_logppl(docs).collect()}
    # corpus: tokens a,b,a,b,b,a → C(a)=3, C(b)=3, T=6
    # bigrams: (a,b)x2, (b,a)x2  → C(a,b)=2, C(b,a)=2
    lam, oml = 0.7, 1.0 - 0.7
    p_uni = 3 / 6.0
    p_ab = lam * (2 / 3.0) + oml * p_uni  # C(a,b)/C(a)
    p_ba = lam * (2 / 3.0) + oml * p_uni
    nl = lambda p: round(-math.log(p), 9)  # noqa: E731
    d1 = (nl(p_uni) + nl(p_ab) + nl(p_ba) + nl(p_ab)) / 4
    d2 = (nl(p_uni) + nl(p_ba)) / 2
    assert out[1].n_tokens == 4 and out[2].n_tokens == 2
    assert out[1].mean_neg_logp == round(d1, 6)
    assert out[2].mean_neg_logp == round(d2, 6)
    # NB: because the operator trains on the SAME corpus it scores,
    # every scored adjacent pair is by construction a seen corpus bigram
    # — the coalesce backoff branch is defensive, not reachable here, so
    # no "unseen bigram" case can be staged through the public operator


def test_quality_classifier_learns_and_is_partition_invariant(spark, sf_dir):
    """The GD trainer must (a) move off the zero vector, (b) score
    rule-passing docs higher than failing docs on average (it is
    distilling that verdict), and (c) produce BIT-IDENTICAL weights
    under a different partitioning — the decimal-gradient contract."""
    from flink_helloworld_spark.operators.classifier import (
        quality_classifier_score,
        train_quality_classifier,
    )
    from flink_helloworld_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir).documents
    w = train_quality_classifier(docs, n_iters=3)
    assert any(x != 0.0 for x in w)
    w2 = train_quality_classifier(docs.repartition(13), n_iters=3)
    assert w == w2  # exact, not approximate
    scored = quality_classifier_score(docs, n_iters=3).collect()
    # the smoke corpus is ALL-negative under the Gopher verdict (every
    # synthetic doc violates some rule), so a pos-vs-neg separation
    # check here would be vacuous — it lives in
    # test_quality_classifier_separates_construction on a mixed corpus.
    # Here assert the scorer is total and the labels really are uniform
    # (if regeneration ever adds positives, revisit).
    assert len(scored) == docs.count()
    assert {r.label for r in scored} == {0}
    assert all(r.score is not None for r in scored)


def test_quality_classifier_separates_construction(spark):
    """On a corpus where good/bad docs differ strongly, 8 GD steps rank
    every good doc above every bad doc (AUC 1.0)."""
    from flink_helloworld_spark.operators.classifier import (
        quality_classifier_score,
    )

    good = "the cat and the dog sat with a mat to rest for that while"
    bad = "### ### ### ### ###"
    docs = _docs(spark, [good, good + " again", bad, bad + " ###"])
    rows = {r.doc_id: r for r in quality_classifier_score(docs, n_iters=8).collect()}
    assert rows[0].label == 1 and rows[2].label == 0
    assert min(rows[0].score, rows[1].score) > max(rows[2].score, rows[3].score)


def _bpe_reference(word_counts: dict, n_merges: int):
    """Pure-Python BPE (Sennrich et al. 2016) — the exactness oracle for
    the distributed trainer: same weighting, same (count desc, pair asc)
    tie-break, same left-to-right non-overlapping merge."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for step in range(n_merges):
        pairs: dict = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[syms[i], syms[i + 1]] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), n = best
        if n < 2:
            break
        merges.append((step, l, r, l + r, n))
        new_vocab: dict = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    from collections import Counter

    from flink_helloworld_spark.operators.bpe import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest low new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    expect = _bpe_reference(dict(wc), n_merges=6)
    got = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_train(docs, n_merges=6).orderBy("step").collect()
    ]
    assert got == expect


def test_bpe_train_random_corpora_match_reference(spark):
    """Seeded random corpora — including chain-heavy words ('aaaa') that
    stress the left-to-right non-overlap fold and sparse corpora that
    trigger the early-stop rule — must match the pure-Python reference
    merge-for-merge."""
    import random
    from collections import Counter

    from flink_helloworld_spark.operators.bpe import bpe_train

    for seed in (5, 21, 42):
        rng = random.Random(seed)
        alphabet = "aab bc"
        words = [
            "".join(rng.choice(alphabet).strip() or "a" for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(3, 18))
        ]
        texts = [
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 8)))
            for _ in range(rng.randint(1, 5))
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        wc = Counter(w for t in texts for w in t.split(" ") if w)
        expect = _bpe_reference(dict(wc), n_merges=6)
        got = [
            (r.step, r.left, r.right, r.merged, r.pair_count)
            for r in bpe_train(docs, n_merges=6).orderBy("step").collect()
        ]
        assert got == expect, f"seed {seed}"


def test_bpe_train_on_testdata_prefix_matches_reference(spark, sf_dir):
    from collections import Counter

    from flink_helloworld_spark.operators.bpe import bpe_train
    from flink_helloworld_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir).documents
    wc = Counter(
        w
        for r in docs.select("text").collect()
        for w in r.text.split(" ")
        if w
    )
    expect = _bpe_reference(dict(wc), n_merges=5)
    got = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_train(docs, n_merges=5).orderBy("step").collect()
    ]
    assert got == expect


def test_bpe_encode_token_counts(spark):
    from flink_helloworld_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa"), (2, "aa")], "doc_id long, text string"
    )
    merges = [
        (r.left, r.right) for r in bpe_train(docs, n_merges=2).orderBy("step").collect()
    ]
    # merge 1: (a,a)->aa weighted 2*2+2*2+1=...; merge 2: (aa,aa)->aaaa
    out = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}
    assert out[1].n_chars == 8 and out[2].n_chars == 2
    assert out[1].n_tokens == 2  # each 'aaaa' collapses to one token
    assert out[2].n_tokens == 1


# --- cluster prune / contamination report / shard manifest / SQ8 -----------


def test_cluster_prune_keeps_one_survivor_per_cluster(spark):
    docs = _docs(
        spark,
        [
            "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
            "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
            "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
            "totally unrelated words apple banana cherry date elderberry fig",
        ],
    )
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5).where("is_dup")
    out = {r.doc_id: r for r in D.cluster_prune(docs, pairs).collect()}
    assert set(out) == {0, 3}, "one survivor per cluster plus the singleton"
    assert out[0].dups_removed == 2
    assert out[3].dups_removed == 0
    assert out[0].text.startswith("alpha")  # full doc row survives


def test_cluster_prune_transitive_chain_single_survivor(spark):
    # A~B and B~C but A!~C directly: closure must still collapse to one
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    b = a + " x1 x2"
    c = b + " y1 y2 z1 z2 z3"
    docs = _docs(spark, [a, b, c])
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.dups_removed for r in D.cluster_prune(docs, pairs).collect()}
    assert out == {0: 2}


def test_decontamination_report_flags_burned_bench_rows(spark):
    bench = _docs(
        spark,
        [
            "the quick brown fox jumps over the lazy dog",  # 5-grams shared below
            "nothing here overlaps with anything in the training corpus at all",
        ],
    )
    corpus = spark.createDataFrame(
        [
            (10, "prefix the quick brown fox jumps over something", "en", "s", 1),
            (11, "another copy the quick brown fox jumps too", "en", "s", 1),
            (12, "clean document with fully original content words only", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.bench_id: r for r in D.decontamination_report(corpus, bench, n=5).collect()}
    assert out[0].n_docs_hit == 2 and out[0].compromised
    # doc10 shares 'the quick brown fox jumps'+'quick brown fox jumps over';
    # doc11 shares only the first -> 3 (doc,gram) hits
    assert out[0].n_gram_hits == 3
    assert out[1].n_docs_hit == 0 and not out[1].compromised


def test_shard_manifest_complete_and_order_invariant(spark):
    from flink_helloworld_spark.operators import layout as L

    docs = _docs(spark, [f"word{i} alpha beta gamma" for i in range(40)])
    m1 = L.shard_manifest(docs, shards=4).collect()
    assert sum(r.n_docs for r in m1) == 40
    assert sum(r.total_tokens for r in m1) == 40 * 4
    # fingerprint / membership identical under reshuffling row order
    m2 = L.shard_manifest(docs.repartition(7), shards=4).collect()
    as_map = lambda rows: {r.shard_id: (r.n_docs, r.total_tokens, r.fingerprint) for r in rows}  # noqa: E731
    assert as_map(m1) == as_map(m2)
    # dropping one doc changes exactly that doc's shard fingerprint
    m3 = as_map(L.shard_manifest(docs.where("doc_id <> 0"), shards=4).collect())
    changed = [s for s in as_map(m1) if as_map(m1)[s] != m3.get(s)]
    assert len(changed) == 1


def test_sq_quantize_codes_bounded_and_reconstruction_tight(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)] + [1.5])  # dim 9 constant
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.sq_quantize(emb, dims=9).collect()
    for r in out:
        assert all(0 <= c <= 255 for c in r.codes)
        assert r.codes[8] == 0  # constant dim -> scale 0 -> code 0
    # reconstruction error bounded by scale/2 per dimension
    one = out[0]
    orig = dict(rows)[one.id]
    for d in range(8):
        recon = one.mn[d] + one.codes[d] * one.scale[d]
        assert abs(recon - orig[d]) <= one.scale[d] / 2 + 1e-12


def test_sq_topk_preserves_ranking_on_separated_clusters(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        center = np.zeros(16)
        center[i % 4 * 4] = 10.0  # four well-separated directions
        rows.append((i, [float(x) for x in center + rng.normal(scale=0.05, size=16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = S.cosine_topk_exact_sharded(
        emb, k=3, q_shards=2, c_shards=2,
        queries_df=emb.where("vec_id % 7 = 0"),
    ).collect()
    sq = S.sq_cosine_topk(emb, k=3, dims=16, sample_mod=7).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    sq_sets = {}
    for r in sq:
        sq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(sq_sets) == set(exact_sets)
    # SQ8 noise reorders within-cluster near-ties (cosines ~0.9999 apart)
    # but must never cross the inter-cluster separation: every neighbor
    # stays in the query's own direction cluster, scores stay near 1
    for q, nbrs in sq_sets.items():
        assert all(n % 4 == q % 4 for n in nbrs), (q, nbrs)
    assert all(r.cosine > 0.99 for r in sq)


def test_mixture_plan_saturated_and_dry_sources(spark):
    from flink_helloworld_spark.operators.sampling import mixture_plan

    rows = []
    for i in range(10):  # srcA: 10 docs x 4 tokens = 40 tokens
        rows.append((i, "a b c d", "en", "srcA", 7))
    for i in range(10, 12):  # srcB: 2 docs x 2 tokens = 4 tokens
        rows.append((i, "x y", "en", "srcB", 3))
    rows.append((20, "p q r", "en", "srcC", 5))  # unweighted source
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in mixture_plan(
        docs, {"srcA": 0.5, "srcB": 0.5}, budget_tokens=20
    ).collect()}
    # srcA: target 10 of 40 available -> rate .25, no deficit
    assert out["srcA"].available_tokens == 40
    assert out["srcA"].sample_rate == 0.25
    assert out["srcA"].deficit_tokens == 0.0
    # srcB: target 10 of 4 available -> saturated, deficit 6
    assert out["srcB"].sample_rate == 1.0
    assert out["srcB"].achieved_tokens == 4.0
    assert out["srcB"].deficit_tokens == 6.0
    # srcC: weight 0 -> reported, nothing sampled
    assert out["srcC"].target_tokens == 0.0 and out["srcC"].sample_rate == 0.0


def test_mixture_plan_zero_available_source_rate_zero(spark):
    # review finding: Spark's least() skips NULLs, so the rate for a
    # weighted source with 0 available tokens must be guarded to 0.0
    from flink_helloworld_spark.operators.sampling import mixture_plan

    docs = spark.createDataFrame(
        [(0, "a b c d", "en", "srcA", 7), (1, "   ", "en", "srcEmpty", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.source: r for r in mixture_plan(
        docs, {"srcA": 0.5, "srcEmpty": 0.5}, budget_tokens=8
    ).collect()}
    assert out["srcEmpty"].available_tokens == 0
    assert out["srcEmpty"].sample_rate == 0.0
    assert out["srcEmpty"].deficit_tokens == 4.0
    assert out["srcA"].sample_rate == 1.0  # target 4 = available 4


def test_wav_decode_truncated_payload_flags_corrupt_not_crash(spark):
    # review finding: a data chunk cut mid-frame passes wave.open but
    # made struct.unpack raise OUTSIDE the except, killing the batch
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x01\x02\x03\x04\x05\x06\x07\x08")
    good = buf.getvalue()
    # the last case declares a chunk that runs past the end of the payload
    overrun = good[:12] + b"junk" + (1000).to_bytes(4, "little") + b"xx"
    cases = [good, good[:-1], good[:-3], b"RIFFgarbage", b"", overrun]
    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(cases)], "doc_id long, payload binary"
    )
    out = {r.doc_id: r for r in MM.decode_wav_features(media).collect()}
    assert out[0].decode_ok and out[0].n_frames == 4
    assert out[0].sample_rate == 8000
    for i in range(1, len(cases)):
        assert not out[i].decode_ok, f"case {i} must flag corrupt"
        assert out[i].rms_q == 0


def test_boilerplate_scrub_removes_shared_segments(spark):
    header = "site nav home about contact terms privacy login"  # 8 words
    docs = _docs(
        spark,
        [
            header + " unique tail zero",
            header + " other body one",
            "entirely original content nothing shared here at all",
            "",
        ],
    )
    got = {r.doc_id: r for r in D.boilerplate_scrub(docs, w=8, min_docs=2).collect()}
    assert got[0].clean_text == "unique tail zero"
    assert got[0].n_segments == 2 and got[0].n_dropped == 1
    assert got[1].clean_text == "other body one"
    assert got[2].clean_text == "entirely original content nothing shared here at all"
    assert got[2].n_dropped == 0
    assert got[3].clean_text == "" and got[3].n_segments == 0 and got[3].n_dropped == 0


def test_boilerplate_scrub_fully_boilerplate_doc_empties(spark):
    block = "one two three four five six seven eight"
    docs = _docs(spark, [block, block, block + " nine"])
    got = {r.doc_id: r for r in D.boilerplate_scrub(docs, w=8, min_docs=2).collect()}
    assert got[0].clean_text == "" and got[0].n_dropped == 1
    assert got[1].clean_text == ""
    # doc 2's second segment is the lone word "nine" (unique) — kept
    assert got[2].clean_text == "nine" and got[2].n_segments == 2


def test_filter_funnel_matches_recomputed_flags(spark):
    docs = _docs(
        spark,
        [
            "a b",  # fails word_count (min 5)
            "the be to of and that have with regular words here today",
            "zz zz zz zz zz",  # no stopwords
            "the be weird #### #### #### symbol heavy doc of words",
        ],
    )
    flags = T.gopher_rules(docs).toPandas()
    funnel = {r.rule: r for r in T.filter_funnel(docs).collect()}
    assert [funnel[r].stage for r in T.GOPHER_RULE_ORDER] == [1, 2, 3, 4, 5, 6]
    cum = flags[T.GOPHER_RULE_ORDER[0]].copy()
    for i, rule in enumerate(T.GOPHER_RULE_ORDER):
        row = funnel[rule]
        assert row.n_docs == len(flags)
        assert row.n_fail_alone == int((~flags[rule]).sum())
        if i > 0:
            cum = cum & flags[rule]
        assert row.n_pass_cum == int(cum.sum())
    # funnel is monotone non-increasing
    cums = [funnel[r].n_pass_cum for r in T.GOPHER_RULE_ORDER]
    assert all(a >= b for a, b in zip(cums, cums[1:]))


def test_winnowing_shared_run_guarantee(spark):
    # the paper's guarantee: a shared run of w + k - 1 = 7 tokens must
    # produce at least one shared fingerprint
    shared = "alpha bravo charlie delta echo foxtrot golf"  # 7 words
    docs = _docs(
        spark,
        [
            "aa bb cc " + shared + " dd ee",
            "xx yy " + shared + " zz ww vv uu",
            "totally disjoint vocabulary here nothing matches anything else",
        ],
    )
    fps: dict[int, set] = {0: set(), 1: set(), 2: set()}
    for r in T.winnowing_fingerprint(docs, k=4, w=4).collect():
        fps[r.doc_id].add(r.fp)
    assert fps[0] & fps[1], "shared 7-token run must share a fingerprint"
    assert not (fps[0] & fps[2])
    # identical docs -> identical fingerprint sets
    twins = _docs(spark, ["one two three four five six seven eight", "one two three four five six seven eight"])
    tf: dict[int, set] = {0: set(), 1: set()}
    for r in T.winnowing_fingerprint(twins).collect():
        tf[r.doc_id].add(r.fp)
    assert tf[0] == tf[1] and tf[0]


def test_winnowing_short_doc_single_fp(spark):
    docs = _docs(spark, ["two words", ""])
    rows = T.winnowing_fingerprint(docs, k=4, w=4).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.fp)
    assert len(by_doc[0]) == 1 and len(by_doc[1]) == 1


def test_embedding_audit_norms_and_zero_count(spark):
    rows = [
        (1, [3.0, 4.0, 0.0], 0),
        (2, [0.0, 0.0, 0.0], 0),
        (3, [1.0, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.label: r for r in S.embedding_audit(emb).collect()}
    assert got[0].n_vecs == 2 and got[0].n_zero == 1
    assert got[0].min_norm == 0.0 and got[0].max_norm == 5.0
    assert got[0].mean_norm == 2.5
    assert got[0].min_dims == 3 and got[0].max_dims == 3
    assert got[1].n_vecs == 1 and got[1].n_zero == 0 and got[1].mean_norm == 1.0


def test_winnowing_overlap_pairs_match_fp_intersections(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = _docs(
        spark,
        [
            "aa bb " + shared + " cc dd",
            "xx " + shared + " yy zz ww",
            "totally disjoint vocabulary here nothing matches anything else",
        ],
    )
    fps: dict[int, set] = {0: set(), 1: set(), 2: set()}
    for r in T.winnowing_fingerprint(docs).collect():
        fps[r.doc_id].add(r.fp)
    got = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in T.winnowing_overlap(docs, min_shared=1, max_df=100).collect()
    }
    expect = {}
    for a in range(3):
        for b in range(a + 1, 3):
            n = len(fps[a] & fps[b])
            if n >= 1:
                expect[(a, b)] = n
    assert got == expect and (0, 1) in got


def test_winnowing_overlap_df_cap_drops_hot_fingerprints(spark):
    block = "one two three four five six seven eight nine ten"
    docs = _docs(spark, [f"{block} unique{i}" for i in range(5)])
    # every pair shares the block's fingerprints -> 10 pairs uncapped
    uncapped = T.winnowing_overlap(docs, min_shared=1, max_df=100).collect()
    assert len(uncapped) == 10
    # the block fps appear in 5 docs; max_df=3 removes them all
    capped = T.winnowing_overlap(docs, min_shared=1, max_df=3).collect()
    assert capped == []


# --- selection: DSIR, perplexity buckets, training order ---------------------


def _mixed_docs(spark):
    # target (src0) speaks "alpha" vocabulary; raw pool mixes alpha-ish
    # and beta-ish docs, so DSIR should rank the alpha-ish raw docs first
    rows = [
        (0, "alpha beta gamma alpha beta gamma alpha", "en", "src0"),
        (1, "alpha gamma alpha beta alpha gamma beta", "en", "src0"),
        (2, "alpha beta gamma alpha gamma beta alpha", "en", "src1"),
        (3, "zork quux blarg zork quux blarg zork", "en", "src1"),
        (4, "alpha beta alpha gamma beta alpha gamma", "en", "src2"),
        (5, "mumble frotz gnusto rezrov mumble frotz gnusto", "en", "src2"),
    ]
    return spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_dsir_weights_rank_target_like_docs_higher(spark):
    from flink_helloworld_spark.operators.selection import dsir_weights

    got = {r.doc_id: r.logw for r in dsir_weights(_mixed_docs(spark)).collect()}
    assert set(got) == {2, 3, 4, 5}  # target docs are never scored
    # docs sharing the target's vocabulary outrank the off-target docs
    assert min(got[2], got[4]) > max(got[3], got[5])


def test_dsir_select_is_topk_of_gumbel_key(spark):
    from flink_helloworld_spark.operators.selection import dsir_select, dsir_weights

    docs = _mixed_docs(spark)
    sel = dsir_select(docs, k=2).collect()
    assert len(sel) == 2
    # selection keys really are logw + deterministic Gumbel noise: re-run
    # is identical (engine-portable md5 noise, no RNG state)
    again = dsir_select(docs, k=2).collect()
    assert sorted(r.doc_id for r in sel) == sorted(r.doc_id for r in again)
    assert all(r.gumbel_key is not None for r in sel)


def test_ppl_buckets_are_per_lang_terciles(spark):
    from flink_helloworld_spark.operators.selection import perplexity_buckets

    # 9 docs in one language: common-word docs => head, rare-word => tail
    rows = []
    for i in range(6):
        rows.append((i, "the cat sat on the mat " * 3, "en", "src1"))
    rows.append((6, "the cat sat on the hat " * 3, "en", "src1"))
    rows.append((7, "qwerty zxcvb plmok " * 3, "en", "src1"))
    rows.append((8, "unique singleton words here now", "en", "src1"))
    docs = spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: (r.ppl_bucket, r.mean_neg_logp) for r in
           perplexity_buckets(docs).collect()}
    assert len(got) == 9
    # bucket ordering respects the score ordering
    by_bucket = {"head": [], "middle": [], "tail": []}
    for _, (b, s) in got.items():
        by_bucket[b].append(s)
    assert by_bucket["head"] and by_bucket["tail"]
    assert max(by_bucket["head"]) <= min(
        by_bucket["middle"] or by_bucket["tail"]
    )
    if by_bucket["middle"]:
        assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    # rare-vocab docs land in the tail
    assert got[7][0] == "tail" or got[8][0] == "tail"


def test_training_order_is_reproducible_permutation(spark):
    from flink_helloworld_spark.operators import layout as L

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    out = L.training_order(docs, seed="epoch0", n_shards=8).collect()
    assert len(out) == 200
    # global positions are unique; per-shard positions are 0..n_s-1 dense
    assert len({r.global_pos for r in out}) == 200
    from collections import defaultdict

    per = defaultdict(list)
    for r in out:
        per[r.shard_id].append(r.shard_pos)
    for s, poss in per.items():
        assert sorted(poss) == list(range(len(poss)))
    # same seed replays identically, a different seed reorders
    again = L.training_order(docs, seed="epoch0", n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = L.training_order(docs, seed="epoch1", n_shards=8).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_wav_pitch_finds_period_of_periodic_signal(spark):
    import io
    import struct
    import wave as wavmod

    from flink_helloworld_spark.operators.multimodal import (
        WAV_PITCH_SCHEMA,
        wav_autocorr_pitch,
    )

    # sine of period exactly 10 samples: autocorrelation peaks at lag 10
    import math

    n, period, amp = 200, 10, 12000
    vals = [int(amp * math.sin(2 * math.pi * i / period)) for i in range(n)]
    buf = io.BytesIO()
    with wavmod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(struct.pack(f"<{n}h", *vals))
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"not a wav"))],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in wav_autocorr_pitch(media).collect()}
    assert got[1].decode_ok and got[1].best_lag == period
    assert got[1].pitch_hz == 1600.0  # 16000 / 10
    assert got[1].zero_crossings == 2 * n // period - 1
    assert not got[2].decode_ok and got[2].best_lag == 0


def test_wav_pitch_matches_sequential_reference_on_hash_payloads(spark):
    # property check: the vectorized NumPy kernel equals a dumb O(n*L)
    # loop on the engine's own md5-stream payloads
    from flink_helloworld_spark.operators.multimodal import (
        _wav_samples,
        attach_wav_binary,
        wav_autocorr_pitch,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + "word " * (i % 37), "en", "s", 1) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = attach_wav_binary(docs)
    got = {r.doc_id: r for r in wav_autocorr_pitch(media).collect()}
    for row in media.collect():
        rate, vals = _wav_samples(bytes(row.payload))
        n = len(vals)
        best_lag, best_ac = 0, None
        for lag in range(1, min(32, n - 1) + 1):
            ac = sum(vals[i] * vals[i + lag] for i in range(n - lag))
            if best_ac is None or ac > best_ac:
                best_lag, best_ac = lag, ac
        zc = sum(
            1 for i in range(1, n) if (vals[i - 1] < 0) != (vals[i] < 0)
        )
        r = got[row.doc_id]
        assert r.best_lag == best_lag
        assert r.ac_peak == (best_ac or 0)
        assert r.zero_crossings == (zc if n >= 2 else 0)


def test_kneser_ney_prefers_predictable_text(spark):
    import math

    # predictable docs reuse the same bigrams; the gibberish doc's
    # bigrams are all singletons => higher KN negative log-prob
    rows = [
        (0, "a b a b a b a b a b", "en", "s"),
        (1, "a b a b a b a b a b", "en", "s"),
        (2, "a b a b a b a b a b", "en", "s"),
        (3, "q w e r t y u i o p", "en", "s"),
    ]
    docs = spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r.mean_neg_logp for r in T.kneser_ney_logppl(docs).collect()}
    assert got[0] == got[1] == got[2] < got[3]
    assert all(v > 0 and math.isfinite(v) for v in got.values())


def test_kneser_ney_no_bigrams_backs_off_to_uniform(spark):
    import math

    # single-token docs: no bigram model exists at all; every token
    # scores by the padded continuation = exactly 1/V
    docs = spark.createDataFrame(
        [(0, "aa", "en", "s", 2), (1, "bb", "en", "s", 2), (2, "cc", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r.mean_neg_logp for r in T.kneser_ney_logppl(docs).collect()}
    expect = round(math.log(3.0), 6)
    assert all(abs(v - expect) < 1e-9 for v in got.values())


# The full published G.711 mu-law expansion table (ITU-T G.711, table
# 2a): expected linear PCM16 for every code byte 0..255. Inlined as
# literals (generated once from CPython's audioop.ulaw2lin, which was
# removed in Python 3.13) so the ground truth survives interpreter
# upgrades — the mapping itself is a fixed published standard.
_G711_EXPANSION = [
    -32124, -31100, -30076, -29052, -28028, -27004, -25980, -24956,
    -23932, -22908, -21884, -20860, -19836, -18812, -17788, -16764,
    -15996, -15484, -14972, -14460, -13948, -13436, -12924, -12412,
    -11900, -11388, -10876, -10364, -9852, -9340, -8828, -8316,
    -7932, -7676, -7420, -7164, -6908, -6652, -6396, -6140,
    -5884, -5628, -5372, -5116, -4860, -4604, -4348, -4092,
    -3900, -3772, -3644, -3516, -3388, -3260, -3132, -3004,
    -2876, -2748, -2620, -2492, -2364, -2236, -2108, -1980,
    -1884, -1820, -1756, -1692, -1628, -1564, -1500, -1436,
    -1372, -1308, -1244, -1180, -1116, -1052, -988, -924,
    -876, -844, -812, -780, -748, -716, -684, -652,
    -620, -588, -556, -524, -492, -460, -428, -396,
    -372, -356, -340, -324, -308, -292, -276, -260,
    -244, -228, -212, -196, -180, -164, -148, -132,
    -120, -112, -104, -96, -88, -80, -72, -64,
    -56, -48, -40, -32, -24, -16, -8, 0,
    32124, 31100, 30076, 29052, 28028, 27004, 25980, 24956,
    23932, 22908, 21884, 20860, 19836, 18812, 17788, 16764,
    15996, 15484, 14972, 14460, 13948, 13436, 12924, 12412,
    11900, 11388, 10876, 10364, 9852, 9340, 8828, 8316,
    7932, 7676, 7420, 7164, 6908, 6652, 6396, 6140,
    5884, 5628, 5372, 5116, 4860, 4604, 4348, 4092,
    3900, 3772, 3644, 3516, 3388, 3260, 3132, 3004,
    2876, 2748, 2620, 2492, 2364, 2236, 2108, 1980,
    1884, 1820, 1756, 1692, 1628, 1564, 1500, 1436,
    1372, 1308, 1244, 1180, 1116, 1052, 988, 924,
    876, 844, 812, 780, 748, 716, 684, 652,
    620, 588, 556, 524, 492, 460, 428, 396,
    372, 356, 340, 324, 308, 292, 276, 260,
    244, 228, 212, 196, 180, 164, 148, 132,
    120, 112, 104, 96, 88, 80, 72, 64,
    56, 48, 40, 32, 24, 16, 8, 0,
]


def test_mulaw_expansion_matches_published_table_for_all_bytes(spark):
    # the published G.711 formula vs the inlined standard table:
    # bit-exact for the full byte range
    from flink_helloworld_spark.operators.multimodal import mulaw_expand

    assert len(_G711_EXPANSION) == 256
    for b in range(256):
        assert mulaw_expand(b) == _G711_EXPANSION[b]


# IMA/DVI ADPCM ground truth: expected int16 reconstructions for a
# fixed nibble sequence, generated once from CPython's
# audioop.adpcm2lin (removed in 3.13; same step/index tables and
# reconstruction formula as the published IMA spec) with nibbles packed
# high-first as that decoder consumes them.
_ADPCM_NIBBLES = [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
                  15, 14, 13, 12, 11, 10, 9, 8, 7, 6, 5, 4, 3, 2, 1, 0,
                  3, 7, 11, 15, 1, 14, 2, 13]
_ADPCM_EXPECTED = [0, 1, 4, 8, 15, 27, 47, 88, 82, 66, 41, 10, -28, -84,
                   -181, -380, -810, -1612, -2816, -4258, -5616, -6497,
                   -6977, -7122, -5135, -1443, 4092, 10722, 16962, 21014,
                   23223, 23892, 28152, 32767, 24462, 8282, 15219,
                   -12110, 6511, -30731]


def test_adpcm_core_matches_cpython_reference_vector(spark):
    from flink_helloworld_spark.operators.multimodal import (
        adpcm_decode_nibbles,
    )

    assert adpcm_decode_nibbles(_ADPCM_NIBBLES) == _ADPCM_EXPECTED
    # clamping paths: sustained max-magnitude codes saturate at int16
    # bounds instead of wrapping
    heavy = adpcm_decode_nibbles([7] * 40 + [15] * 40)
    assert max(heavy) == 32767 and min(heavy) >= -32768


def test_adpcm_decode_real_payloads_and_corruption(spark):
    import hashlib
    import math

    from flink_helloworld_spark.operators.multimodal import (
        _decode_adpcm,
        adpcm_decode_nibbles,
        attach_adpcm_binary,
        decode_adpcm_features,
    )

    texts = ["hello world one", "a", "x" * 251,
             "longer text with more words here ok"]
    docs = _docs(spark, texts)
    media = attach_adpcm_binary(docs)
    got = {r.doc_id: r for r in decode_adpcm_features(media).collect()}
    rates = (8000, 16000, 22050, 44100)
    for i, t in enumerate(texts):
        nf = len(t) % 250 + 1
        rate = rates[len(t) % 4]
        stream = (hashlib.md5(t.encode()).hexdigest() * (nf // 32 + 1))[:nf]
        samples = adpcm_decode_nibbles([int(c, 16) for c in stream])
        rms = int(math.floor(math.sqrt(sum(v * v for v in samples) / nf)))
        r = got[i]
        assert r.decode_ok
        assert (r.sample_rate, r.n_frames, r.duration_ms, r.rms_q) == (
            rate, nf, nf * 1000 // rate, rms,
        )
    # sequential parity of the distributed path against _decode_adpcm
    for row in media.collect():
        r = got[row.doc_id]
        ref = _decode_adpcm(bytes(row.payload))
        assert (r.sample_rate, r.n_frames, r.duration_ms, r.rms_q) == ref
    # corruption contract: truncated data chunk and non-RIFF both refuse
    p = bytes(media.collect()[0].payload)
    bad = spark.createDataFrame(
        [(90, p[:30]), (91, b"not riff at all" * 3)],
        "doc_id long, payload binary",
    )
    assert all(
        not r.decode_ok for r in decode_adpcm_features(bad).collect()
    )


def test_mulaw_decode_real_payloads_and_corruption(spark):
    from flink_helloworld_spark.operators.multimodal import (
        _decode_mulaw,
        attach_mulaw_binary,
        decode_mulaw_features,
        mulaw_expand,
    )

    docs = _docs(spark, ["hello world one", "a", "longer text with more words here"])
    media = attach_mulaw_binary(docs)
    got = {r.doc_id: r for r in decode_mulaw_features(media).collect()}
    # sequential reference over the same payloads
    import math

    for row in media.collect():
        payload = bytes(row.payload)
        r = got[row.doc_id]
        assert r.decode_ok
        ref = _decode_mulaw(payload)
        assert (r.sample_rate, r.n_frames, r.duration_ms, r.rms_q) == ref
        # cross-check rms against a direct expansion of the data chunk
        data = payload[44:]
        assert len(data) == r.n_frames
        ss = sum(mulaw_expand(b) ** 2 for b in data)
        assert r.rms_q == int(math.floor(math.sqrt(ss / len(data))))
    # corruption contract: truncated data chunk and non-RIFF both refuse
    bad = spark.createDataFrame(
        [(9, bytearray(b"RIFFxxxxWAVE")), (10, bytearray(b"zzzz"))],
        "doc_id long, payload binary",
    )
    got_bad = {r.doc_id: r.decode_ok for r in decode_mulaw_features(bad).collect()}
    assert got_bad == {9: False, 10: False}


def test_weighted_reservoir_matches_sequential_reference(spark):
    import hashlib
    import math
    from collections import defaultdict

    from flink_helloworld_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    rows = [
        (i, ["d0", "d1", "d2"][i % 3], [0, 1, 5, 100, 7][i % 5]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {
        (r.doc_id): (r.source, r.res_rank)
        for r in weighted_reservoir_sample(
            df, "source", "n_chars", "doc_id", k=3
        ).collect()
    }
    # sequential A-ES with the same md5 keys
    keys = defaultdict(list)
    for i, s, w in rows:
        if w <= 0:
            continue
        h = float(int(hashlib.md5(f"wres{i}".encode()).hexdigest()[:15], 16))
        u = (h + 0.5) / float(16**15)
        key = -math.log(u) / w
        key = math.floor(abs(key) * 1e9 + 0.5) / 1e9
        keys[s].append((key, i))
    expect = {}
    for s, ks in keys.items():
        for rank, (_, i) in enumerate(sorted(ks), start=1):
            if rank <= 3:
                expect[i] = (s, rank)
    assert got == expect


def test_selection_pipeline_manifest_contract(spark):
    from collections import defaultdict

    from flink_helloworld_spark.operators.selection import (
        dsir_weights,
        perplexity_buckets,
        selection_pipeline,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(["alpha", "beta", "gamma", "delta"][j % 4]
                         for j in range(i % 11 + 2)),
             ["en", "de"][i % 2], ["src0", "src1", "src2"][i % 3], 1)
            for i in range(60)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = selection_pipeline(docs, n_shards=4).collect()
    assert out  # the composed gates keep someone
    buckets = {r.doc_id: r.ppl_bucket for r in perplexity_buckets(docs).collect()}
    weights = {r.doc_id: r.logw for r in dsir_weights(docs).collect()}
    import statistics

    med = sorted(weights.values())[:]
    # survivors: never target-source, never tail, always >= median cut
    got_ids = {r.doc_id for r in out}
    assert got_ids <= set(weights)  # raw pool only
    for r in out:
        assert r.ppl_bucket != "tail"
        assert buckets[r.doc_id] == r.ppl_bucket
        assert r.logw == weights[r.doc_id]
    assert min(r.logw for r in out) >= statistics.median(weights.values()) - 1e-9
    # manifest positions: dense per shard, globally unique
    per = defaultdict(list)
    for r in out:
        per[r.shard_id].append(r.shard_pos)
    for poss in per.values():
        assert sorted(poss) == list(range(len(poss)))
    assert len({r.global_pos for r in out}) == len(out)


def test_sorted_neighborhood_finds_near_dups_skips_far(spark):
    from flink_helloworld_spark.operators.dedup import (
        simhash,
        sorted_neighborhood_pairs,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = _docs(
        spark,
        [
            base,
            base + " kilo",  # near-dup of 0
            base,            # exact dup of 0 (same simhash)
            "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll " * 3,
        ],
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in sorted_neighborhood_pairs(docs, max_hamming=10).collect()
    }
    # identical simhashes sort adjacent: the exact dup pair is guaranteed
    assert got.get((0, 2)) == 0
    assert (0, 1) in got or (1, 2) in got  # near-dup caught in-window
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    far = bin(sh[0] ^ sh[3]).count("1")
    if far > 10:  # the dissimilar doc never pairs with the base family
        assert (0, 3) not in got and (1, 3) not in got and (2, 3) not in got


def test_avi_decode_real_container_and_corruption(spark):
    import struct

    from flink_helloworld_spark.operators.multimodal import (
        _decode_avi,
        attach_avi_binary,
        decode_avi_features,
    )

    docs = _docs(spark, ["the quick brown fox", "ab", "some longer words in here now"])
    media = attach_avi_binary(docs)
    got = {r.doc_id: r for r in decode_avi_features(media).collect()}
    for row in media.collect():
        payload = bytes(row.payload)
        r = got[row.doc_id]
        assert r.decode_ok
        # structural spec checks on the REAL container
        assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
        (riff_size,) = struct.unpack("<I", payload[4:8])
        assert riff_size + 8 == len(payload)  # sizes internally consistent
        assert payload[12:16] == b"LIST" and payload[20:24] == b"hdrl"
        assert b"movi" in payload and b"00db" in payload
        assert b"strh" in payload and b"strf" in payload and b"vids" in payload
        # sequential reference agrees
        assert _decode_avi(payload) == (
            r.width, r.height, r.n_frames, r.usec_per_frame, r.sum_bytes
        )
        # frame payload really is w*h*3 per frame
        (alen,) = struct.unpack("<I", payload[28:32])
        assert alen == 56
        # mutate the frame-count field: header/movi disagreement refuses
        bad = bytearray(payload)
        bad[32 + 16 : 32 + 20] = struct.pack("<I", 99)
        assert _decode_avi(bytes(bad)) is None
    bad_rows = spark.createDataFrame(
        [(8, bytearray(b"RIFF\x00\x00\x00\x00WAVE")), (9, bytearray(b"nope"))],
        "doc_id long, payload binary",
    )
    got_bad = {r.doc_id: r.decode_ok for r in decode_avi_features(bad_rows).collect()}
    assert got_bad == {8: False, 9: False}


def test_curriculum_order_stages_before_shuffle(spark):
    from collections import defaultdict

    from flink_helloworld_spark.operators import layout as L
    from flink_helloworld_spark.operators.text import quality_score

    good = "the cat and the dog sat on a mat to rest for a while today"
    bad = "#### //// @@@@ %%%% ^^^^ &&&& |||| ~~~~ ```` ::::"
    docs = spark.createDataFrame(
        [(i, good if i % 2 == 0 else bad, "en", "s", 1) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = L.curriculum_order(docs, n_shards=4).collect()
    assert len(out) == 40
    scores = {r.doc_id: r.quality_score for r in quality_score(docs).collect()}
    per = defaultdict(list)
    for r in out:
        # stage respects the discrete band of the doc's own score
        s = scores[r.doc_id]
        assert r.stage == (0 if s >= 0.8 else 1 if s >= 0.4 else 2)
        per[r.shard_id].append((r.shard_pos, r.stage))
    # within every shard: positions dense AND stages non-decreasing
    for rows in per.values():
        rows.sort()
        assert [p for p, _ in rows] == list(range(len(rows)))
        stages = [s for _, s in rows]
        assert stages == sorted(stages)
    assert len({r.global_pos for r in out}) == 40


def test_avi_frame_sampling_matches_container_walk(spark):
    from flink_helloworld_spark.operators.multimodal import (
        attach_avi_binary,
        sample_avi_frames,
    )

    docs = _docs(spark, ["five frames of text here yes!", "ab", "abc"])
    media = attach_avi_binary(docs)
    got = {}
    for r in sample_avi_frames(media, every=2).collect():
        got.setdefault(r.doc_id, []).append((r.frame_idx, r.frame_bytes, r.frame_sum))
    import hashlib

    for i, t in enumerate(["five frames of text here yes!", "ab", "abc"]):
        n = len(t)
        w, h, nf = 4 + (n % 2) * 4, 2 + n % 3, 1 + n % 5
        fsize = w * h * 3
        stream = (hashlib.md5(t.encode()).hexdigest() * (nf * fsize * 2 // 32 + 1))[
            : nf * fsize * 2
        ]
        raw = bytes.fromhex(stream)
        expect = [
            (f, fsize, sum(raw[f * fsize : (f + 1) * fsize]))
            for f in range(nf)
            if f % 2 == 0
        ]
        assert sorted(got[i]) == expect
    # avih total-frames disagreeing with movi: the container is corrupt
    # (as decode_avi_features flags it), so it contributes no frames
    import struct

    bad = []
    for row in media.collect():
        p = bytearray(row.payload)
        p[32 + 16 : 32 + 20] = struct.pack("<I", 99)
        bad.append((row.doc_id, p))
    bad_media = spark.createDataFrame(bad, "doc_id long, payload binary")
    assert sample_avi_frames(bad_media, every=2).collect() == []


def test_corpus_manifest_covers_exactly_the_pretrain_survivors(spark):
    from flink_helloworld_spark.operators.dedup import (
        corpus_to_manifest,
        pretrain_prep_plan,
    )

    # distinct docs (no shared 5-gram run: an {i} breaks every 4 words),
    # so the %20==0 benchmark split contaminates nothing
    def mk(i):
        return (f"the cat {i} and a dog {i} sat on mat {i} to rest today")

    rows = [(i, mk(i)) for i in range(30)]
    rows += [(101 + i, mk(1 + i)) for i in range(4)]  # exact dups drop
    rows += [(201, "#### //// @@@@ %%%%")]  # quality-filtered out
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    packed = pretrain_prep_plan(docs)
    kept = {r.doc_id: r.n_tokens for r in packed.collect()}
    man = corpus_to_manifest(docs).collect()
    assert sum(r.n_docs for r in man) == len(kept)
    assert sum(r.total_tokens for r in man) == sum(kept.values())
    ids = set(kept)
    assert min(r.min_id for r in man) == min(ids)
    assert max(r.max_id for r in man) == max(ids)
    assert 201 not in ids and all(i not in ids for i in range(101, 105))
    assert 0 not in ids and 20 not in ids  # benchmark docs never packed


def test_mixture_temperature_upsamples_small_sources(spark):
    from flink_helloworld_spark.operators.sampling import mixture_temperature

    docs = spark.createDataFrame(
        [(i, "w " * (20 if i % 10 else 2), "big" if i % 10 else "small")
         for i in range(100)],
        "doc_id long, text string, source string",
    ).withColumn("text", F.rtrim("text"))
    nat = {r.source: r for r in
           mixture_temperature(docs, 1.0, 1000, "source").collect()}
    cool = {r.source: r for r in
            mixture_temperature(docs, 0.3, 1000, "source").collect()}
    # alpha=1 reproduces natural proportions
    tot = sum(r.available_tokens for r in nat.values())
    for r in nat.values():
        assert abs(r.mix_share - r.available_tokens / tot) < 1e-6
    # shares always sum to 1
    assert abs(sum(r.mix_share for r in cool.values()) - 1.0) < 1e-6
    # cooling the temperature moves share from the big source to the small
    assert cool["small"].mix_share > nat["small"].mix_share
    assert cool["big"].mix_share < nat["big"].mix_share
    # rate caps at 1.0 even when the target exceeds availability
    rates = mixture_temperature(docs, 0.3, 10_000_000, "source").collect()
    assert all(r.sample_rate == 1.0 for r in rates)


def test_char_entropy_orders_texts_by_diversity(spark):
    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaaaaaaaaaa"),            # single char -> 0 nats
            (2, "abababababababab"),            # two chars -> ln 2
            (3, "the quick brown fox jumps"),   # natural text -> higher
            (4, ""),                            # empty -> 0, 0 chars
        ],
        "doc_id long, text string",
    )
    import math

    out = {r.doc_id: r for r in T.char_entropy(docs).collect()}
    assert out[1].char_entropy == 0.0
    assert abs(out[2].char_entropy - math.log(2)) < 1e-8
    assert out[3].char_entropy > out[2].char_entropy > out[1].char_entropy
    assert out[4] .n_chars_seen == 0 and out[4].char_entropy == 0.0
    assert out[1].n_chars_seen == 16


def test_bpe_segmentation_applies_merges_in_order(spark):
    from flink_helloworld_spark.operators.bpe import bpe_segmentation

    docs = spark.createDataFrame(
        [(1, "ab cab b"), (2, "abab ab")], "doc_id long, text string"
    )
    out = {
        r.w: (r.n_tokens, r.segmentation)
        for r in bpe_segmentation(docs, [("a", "b"), ("ab", "ab")]).collect()
    }
    assert out == {
        "ab": (1, "ab"),
        "cab": (2, "c ab"),
        "b": (1, "b"),
        "abab": (1, "abab"),
    }


# --- content-defined chunking ------------------------------------------------


class TestCdcChunks:
    def _text(self, n, seed=7):
        # deterministic aperiodic word stream (period > any test doc —
        # a small modulus makes the stream periodic and fixed windows
        # then collide by accident)
        return " ".join(
            f"w{(i * 2654435761 + seed * 97003) % 1000003}" for i in range(n)
        )

    def test_chunks_tile_the_document(self, spark):
        docs = _docs(spark, [self._text(200), self._text(55, seed=11)])
        rows = D.cdc_chunks(docs).orderBy("doc_id", "chunk_idx").collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, ch in by_doc.items():
            # contiguous, gapless, starting at 0
            assert ch[0].start_tok == 0
            for a, b in zip(ch, ch[1:]):
                assert b.start_tok == a.start_tok + a.chunk_len
            n_words = 200 if doc_id == 0 else 55
            assert ch[-1].start_tok + ch[-1].chunk_len == n_words

    def test_short_doc_is_one_chunk(self, spark):
        docs = _docs(spark, ["a b c"])  # shorter than the window
        rows = D.cdc_chunks(docs, w=4).collect()
        assert len(rows) == 1
        assert rows[0].start_tok == 0 and rows[0].chunk_len == 3

    def test_insertion_only_rechunks_the_neighborhood(self, spark):
        # THE property fixed-stride chunking lacks: prepending words
        # shifts every fixed window, but content-defined boundaries
        # re-synchronize — most chunk hashes survive the edit
        base = self._text(400)
        edited = "zz yy xx " + base
        docs = _docs(spark, [base, edited])
        rows = D.cdc_chunks(docs).collect()
        h0 = {r.chunk_hash for r in rows if r.doc_id == 0}
        h1 = {r.chunk_hash for r in rows if r.doc_id == 1}
        shared = len(h0 & h1) / len(h0)
        assert shared > 0.6, f"only {shared:.0%} of chunks survived the edit"
        # and the dedup report sees those shared chunks as duplicated
        dup = D.cdc_chunk_dedup(docs).collect()
        assert {r.chunk_hash for r in dup if r.n_docs == 2} >= (h0 & h1)

    def test_fixed_stride_baseline_loses_everything(self, spark):
        # contrast check: the same edit under fixed 16-token windows
        # shares zero window hashes (documents the CDC advantage)
        base = self._text(400)
        edited = "zz yy xx " + base
        docs = _docs(spark, [base, edited])
        w = 16
        spans = docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.size(F.split("text", " ")) - w) / w).cast("int"),
                    ),
                    lambda i: F.md5(
                        F.array_join(F.slice(F.split("text", " "), i * w + 1, w), " ")
                    ),
                )
            ).alias("h"),
        ).collect()
        h0 = {r.h for r in spans if r.doc_id == 0}
        h1 = {r.h for r in spans if r.doc_id == 1}
        assert len(h0 & h1) == 0

    def test_expected_chunk_length_tracks_mod(self, spark):
        docs = _docs(spark, [self._text(3000)])
        for mod, lo, hi in ((8, 4.0, 12.0), (32, 16.0, 48.0)):
            rows = D.cdc_chunks(docs, mod=mod).collect()
            mean = sum(r.chunk_len for r in rows) / len(rows)
            assert lo < mean < hi, (mod, mean)


class TestDimAblation:
    def test_recall_monotone_in_dims_on_planted_clusters(self, spark):
        # 64-dim vectors in 4 well-separated clusters: the cluster
        # signal lives in the first dims too, so truncation recall must
        # be high at 32 dims and non-decreasing-ish; dims=64 == exact
        import numpy as np

        rng_rows = []
        for c in range(4):
            center = [0.0] * 64
            center[c] = 10.0  # cluster axis
            for j in range(25):
                # deterministic jitter per (c, j)
                vec = [
                    center[t] + ((c * 97 + j * 31 + t * 7) % 13 - 6) * 0.05
                    for t in range(64)
                ]
                rng_rows.append((c * 25 + j, vec))
        emb = spark.createDataFrame(
            rng_rows, "vec_id long, embedding array<double>"
        )
        out = {
            r.dims: r
            for r in S.dim_ablation_recall(
                emb, dims=(8, 32, 64), k=5, sample_mod=5
            ).collect()
        }
        assert out[64].recall == 1.0  # full dims reproduce ground truth
        assert out[64].n_ann == out[64].n_exact
        assert out[32].recall >= 0.9  # cluster axes live in dims 0..3
        assert out[8].recall >= 0.5
        for r in out.values():
            assert r.n_hits <= r.n_ann and r.n_hits <= r.n_exact


class TestCorpusDriftPsi:
    def _snap(self, spark, rows):
        return spark.createDataFrame(
            [(i, t, lang, "src", len(t)) for i, (t, lang) in enumerate(rows)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    def test_identical_snapshots_zero_psi(self, spark):
        rows = [("the cat sat on the mat quietly", "en")] * 6 + [
            ("und der hund lief schnell weg heute", "de")
        ] * 4
        a = self._snap(spark, rows)
        out = T.corpus_drift_psi(a, a).collect()
        assert len(out) > 0
        assert all(r.psi_term == 0.0 for r in out)
        assert all(r.share_a == r.share_b for r in out)

    def test_composition_shift_raises_psi(self, spark):
        import math as m

        base = [("the cat sat on the mat quietly", "en")] * 8
        shifted = base[:2] + [
            ("und der hund lief schnell weg heute", "de")
        ] * 6
        a = self._snap(spark, base)
        b = self._snap(spark, shifted)
        rows = {(r.lang, r.band): r for r in T.corpus_drift_psi(a, b).collect()}
        total = sum(r.psi_term for r in rows.values())
        assert total > 0.2  # the classic significant-shift threshold
        # every term individually non-negative ((p-q) and ln(p/q) share sign)
        assert all(r.psi_term >= 0.0 for r in rows.values())
        # hand-check one bucket: en count 8 -> 2, K = 2 buckets
        en = [r for (lang, _), r in rows.items() if lang == "en"][0]
        p = (8 + 1) / (8 + 2)
        q = (2 + 1) / (8 + 2)
        expect = (p - q) * m.log(p / q)
        assert abs(en.psi_term - expect) < 2e-6

    def test_vanished_bucket_is_finite(self, spark):
        a = self._snap(spark, [("the cat sat on the mat quietly", "en")] * 5)
        b = self._snap(
            spark, [("und der hund lief schnell weg heute", "de")] * 5
        )
        out = T.corpus_drift_psi(a, b).collect()
        assert all(
            r.psi_term == r.psi_term and abs(r.psi_term) < float("inf")
            for r in out
        )
        assert {r.lang for r in out} == {"en", "de"}


def test_route_frozen_np_matches_batch_append_routing(spark):
    """The streaming ingest's frozen-quantizer routing
    (route_frozen_np over a collected artifact) is byte-identical to
    the batch ivf_index_append routing — the precondition that makes
    streaming_ivf_ingest's posting set equal the batch append under
    any micro-batch split. Includes a zero-norm vector (routes like
    the batch path: all-zero sims, lowest-id tie-breaks)."""
    import numpy as np
    from pyspark.sql import functions as F

    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    base = planted.where("vec_id % 2 = 0")
    inc = planted.where("vec_id % 2 = 1").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # plant one zero-norm vector among the appends
    dims = len(inc.first().embedding)
    zero = spark.createDataFrame(
        [(100000, [0.0] * dims)], "vec_id long, embedding array<double>"
    )
    inc = inc.unionByName(zero)
    index, postings = S.build_ivf_index(base)
    expected = sorted(
        (r.centroid_id, r.member_id)
        for r in S.ivf_index_append(index, postings.limit(0), inc).collect()
    )

    quant = S.collect_ivf_quantizer(index)
    rows = inc.collect()
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    cells = S.route_frozen_np(mat, quant, n_super_probe=2)
    got = sorted(
        (int(c), int(r.vec_id))
        for c, r in zip(cells, rows)
        if c >= 0
    )
    assert got == expected and len(got) == 97  # 96 odd + the zero vec
    # n_super_probe beyond the super count degrades to probe-all, not
    # an index error (the _assign_cells_blas truncation contract)
    all_probe = S.route_frozen_np(mat, quant, n_super_probe=10_000)
    assert (all_probe >= 0).all()


def test_centroid_collect_over_budget_raises(spark, monkeypatch):
    """Every centroid-table collect goes through one helper with a
    rows × dim budget: over it, the collect raises a ValueError naming
    the table instead of building and broadcasting the matrix. A
    32-row planted corpus has 16 cells × 64 dims = 1024 values."""
    import pytest

    emb = _ids_only_emb(spark, 32)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    index, _ = S.build_ivf_index(planted)
    monkeypatch.setattr(S, "_COLLECT_MAX_VALUES", 16 * 64 - 1)
    with pytest.raises(ValueError, match="cell table.*_COLLECT_MAX_VALUES = 1023"):
        S.collect_ivf_quantizer(index)
    with pytest.raises(ValueError, match="centroid table"):
        S.ivf_cosine_topk(planted, k=3)
    monkeypatch.setattr(S, "_COLLECT_MAX_VALUES", 16 * 64)
    assert len(S.collect_ivf_quantizer(index)["cell_ids"]) == 16


def test_epoch_repetition_plan_decay_and_fresh_branches(spark):
    """Data-constrained planning (Muennighoff decay): an over-allocated
    source reports the closed-form effective tokens under repetition
    (pinned to U·(1+R*·(1−exp(−R/R*))) on the 9-dp ladder, utilization
    < 1 and falling with epochs), an under-allocated source uses only
    fresh tokens (effective = target, utilization = 1), and a
    weight-0 source plans zero."""
    import math

    from flink_helloworld_spark.operators.sampling import (
        epoch_repetition_plan,
    )

    rows = []
    for i in range(10):  # srcA: 40 unique tokens, target 400 -> 10 ep
        rows.append((i, "a b c d", "en", "srcA", 7))
    for i in range(10, 14):  # srcB: 200 tokens, target 100 -> fresh
        rows.append((i, " ".join(["t"] * 50), "en", "srcB", 3))
    rows.append((20, "p q r", "en", "srcC", 5))  # unweighted
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r.source: r
        for r in epoch_repetition_plan(
            docs, {"srcA": 0.8, "srcB": 0.2}, budget_tokens=500
        ).collect()
    }
    a, b, c = out["srcA"], out["srcB"], out["srcC"]
    # over-allocated: 400/40 = 10 epochs; closed form on the ladder
    assert a.unique_tokens == 40 and a.epochs == 10.0
    r_star = 15.39

    def r9(x):
        return math.copysign(
            math.floor(abs(x) * 1e9 + 0.5) / 1e9, x
        )

    inner = r9(math.exp(-9.0 / r_star))
    assert a.effective_tokens == r9(40.0 * (1.0 + r_star * (1.0 - inner)))
    assert a.utilization < 1.0
    # under-allocated: only fresh tokens, full value
    assert b.unique_tokens == 200 and b.epochs == 0.5
    assert b.effective_tokens == b.target_tokens == 100.0
    assert b.utilization == 1.0
    # unweighted: zero plan, utilization undefined
    assert c.target_tokens == 0.0 and c.effective_tokens == 0.0
    assert c.utilization is None


def test_mixture_reallocate_down_case_moves_surplus(spark):
    """Budget below total unique tokens: the saturated source (smallest
    U/w) is capped at U, its surplus re-splits across the others at
    the water level lambda, the budget is conserved exactly, and total
    effective tokens strictly beat the naive w*B plan (which burns
    part of the budget on decayed repetition)."""
    from flink_helloworld_spark.operators.sampling import mixture_reallocate

    rows = []
    rows += [(i, " ".join(["t"] * 40), "en", "srcA", 1) for i in range(1)]
    rows += [(10 + i, " ".join(["t"] * 100), "en", "srcB", 1) for i in range(2)]
    rows += [(20 + i, " ".join(["t"] * 100), "en", "srcC", 1) for i in range(3)]
    rows.append((30, "x y z", "en", "srcZ", 1))  # unweighted
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # U: A=40 B=200 C=300 (sum 540); naive at B=500: A=250 B=150 C=100
    W = {"srcA": 0.5, "srcB": 0.3, "srcC": 0.2}
    out = {
        r.source: r
        for r in mixture_reallocate(docs, W, budget_tokens=500).collect()
    }
    a, b, c, z = out["srcA"], out["srcB"], out["srcC"], out["srcZ"]
    # ratios U/w: A 80, B 666.7, C 1500; the water level rises past
    # B's ratio too (prefix test: 40 + 666.7*0.5 = 373 <= 500), so A
    # AND B saturate: lambda = (500-240)/0.2 = 1300 -> C gets 260
    assert a.realloc_target == 40.0 and a.epochs == 1.0
    assert b.realloc_target == 200.0 and c.realloc_target == 260.0
    assert z.realloc_target == 0.0 and z.naive_target == 0.0
    got_total = sum(r.realloc_target for r in out.values())
    assert got_total == 500.0  # budget conserved
    # all fresh -> effective == target, and the naive plan decayed A
    assert all(
        r.effective_tokens == r.realloc_target for r in out.values()
    )
    assert a.naive_effective < a.naive_target  # repetition decay
    assert sum(r.effective_tokens for r in out.values()) > sum(
        r.naive_effective for r in out.values()
    )
    assert a.gain_tokens < 0 < b.gain_tokens  # per-source visibility


def test_mixture_reallocate_up_case_equal_epochs(spark):
    """Budget above total unique tokens: every weighted source
    saturates and the optimum equalizes marginal value, i.e. equal
    epochs -> targets proportional to U (independent of w)."""
    from flink_helloworld_spark.operators.sampling import mixture_reallocate

    rows = [
        (0, " ".join(["t"] * 50), "en", "srcA", 1),
        (1, " ".join(["t"] * 150), "en", "srcB", 1),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r.source: r
        for r in mixture_reallocate(
            docs, {"srcA": 0.9, "srcB": 0.1}, budget_tokens=1000
        ).collect()
    }
    a, b = out["srcA"], out["srcB"]
    # targets proportional to U: 250 / 750, both at 5 epochs
    assert a.realloc_target == 250.0 and b.realloc_target == 750.0
    assert a.epochs == b.epochs == 5.0
    assert a.realloc_target + b.realloc_target == 1000.0
    # naive slams 900 into the 50-token source (18 epochs, heavy
    # decay); equal epochs strictly beats it
    assert a.effective_tokens + b.effective_tokens > (
        a.naive_effective + b.naive_effective
    )


def test_ivf_index_delete_tombstones_and_query_parity(spark):
    """The remove_ids() seam: tombstones dominate their posting rows,
    query-over-compacted == query-over-merge-on-read view == query
    over the index built by routing only the remaining members through
    the same frozen quantizer (per-row-independent routing makes the
    three artifacts identical); deleted members vanish as neighbors
    but still query; absent-id deletes are no-ops and double deletes
    add no second tombstone."""
    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    index, postings = S.build_ivf_index(planted)
    dead = planted.where("vec_id % 7 = 3")
    keep = planted.where("vec_id % 7 <> 3")

    tombstoned = S.ivf_index_delete(postings, dead)
    n_dead = dead.count()
    assert tombstoned.where("mvec IS NULL").count() == n_dead
    # absent ids: no-op; double delete: no second tombstone
    again = S.ivf_index_delete(
        S.ivf_index_delete(tombstoned, dead),
        spark.range(10_000, 10_005).selectExpr("id AS vec_id"),
    )
    assert again.where("mvec IS NULL").count() == n_dead

    compacted, touched = S.ivf_index_compact(tombstoned)
    assert compacted.where("mvec IS NULL").count() == 0
    live_keys = sorted(
        (r.centroid_id, r.member_id) for r in compacted.collect()
    )
    # merge-on-read view == merge-on-write result
    assert live_keys == sorted(
        (r.centroid_id, r.member_id)
        for r in S.live_postings(tombstoned).collect()
    )
    # == routing only the remainder through the frozen quantizer
    rerouted = S.ivf_index_append(index, postings.limit(0), keep)
    assert live_keys == sorted(
        (r.centroid_id, r.member_id) for r in rerouted.collect()
    )
    # touched = exactly the cells that held a tombstone
    assert sorted(r.centroid_id for r in touched.collect()) == sorted(
        {r.centroid_id for r in tombstoned.where("mvec IS NULL").collect()}
    )

    q = planted.where("vec_id % 10 = 0")  # includes deleted id 10
    res_c = sorted(
        map(tuple, S.ivf_index_query(index, compacted, q, k=5).collect())
    )
    res_v = sorted(
        map(
            tuple,
            S.ivf_index_query(
                index, S.live_postings(tombstoned), q, k=5
            ).collect(),
        )
    )
    res_r = sorted(
        map(tuple, S.ivf_index_query(index, rerouted, q, k=5).collect())
    )
    assert res_c == res_v == res_r
    dead_ids = {r.vec_id for r in dead.collect()}
    assert not {r[2] for r in res_c} & dead_ids  # no deleted neighbors
    assert 10 in {r[0] for r in res_c}  # a deleted id still queries


def test_ivf_store_compact_rewrites_only_touched_buckets(spark, tmp_path):
    """The on-disk half of the deletion seam: tombstones append into
    their cell buckets, compaction rewrites ONLY the touched
    cell_bucket partitions (untouched partitions keep their exact
    files — neither read nor written), and the compacted store read
    back equals the DataFrame-level compaction."""
    import os

    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    index, postings = S.build_ivf_index(planted)
    path = str(tmp_path / "ivf_store")
    S.ivf_store_write(postings, path, num_buckets=8)

    # delete members from ONE cell only -> exactly one touched bucket
    one_cell = postings.limit(1).collect()[0]
    dead = postings.where(
        F.col("centroid_id") == one_cell.centroid_id
    ).select(F.col("member_id").alias("vec_id")).limit(3)
    tombs = S.ivf_index_delete(postings, dead).where("mvec IS NULL")
    S.ivf_store_write(tombs, path, num_buckets=8)

    def listing(bucket: int) -> list[str]:
        d = os.path.join(path, f"cell_bucket={bucket}")
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    before = {b: listing(b) for b in range(8)}
    touched = S.ivf_store_compact(spark, path)
    assert touched == [int(one_cell.centroid_id) % 8]
    after = {b: listing(b) for b in range(8)}
    for b in range(8):
        if b in touched:
            assert after[b] != before[b]  # rewritten
        else:
            assert after[b] == before[b]  # byte-listing untouched
    # idempotent: nothing left to compact
    assert S.ivf_store_compact(spark, path) == []

    compacted_df, _ = S.ivf_index_compact(
        S.ivf_index_delete(postings, dead)
    )
    key = lambda r: (r.centroid_id, r.member_id)  # noqa: E731
    assert sorted(
        map(key, S.ivf_store_read(spark, path).collect())
    ) == sorted(map(key, compacted_df.collect()))


def test_ivf_store_compact_drops_fully_tombstoned_bucket(spark, tmp_path):
    """Dynamic partition overwrite only replaces partitions present in
    the compacted output — a bucket whose EVERY live row is tombstoned
    would otherwise keep its old files on disk (deleted members read
    back as live, second compact re-finds the tombstones). The compact
    must explicitly drop such partitions: read-back excludes the
    cell's members entirely and a second compact is a no-op."""
    import os

    emb = _ids_only_emb(spark, 192)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    index, postings = S.build_ivf_index(planted)
    path = str(tmp_path / "ivf_store_empty")
    S.ivf_store_write(postings, path, num_buckets=64)

    # pick a cell whose bucket holds ONLY that cell's rows, then
    # delete every one of its members -> the bucket compacts to empty
    cells = [
        r.centroid_id
        for r in postings.select("centroid_id").distinct().collect()
    ]
    target = None
    for c in cells:
        if sum(1 for d in cells if d % 64 == c % 8) == 1:
            target = int(c)
            break
    assert target is not None, "need a cell alone in its bucket"
    dead = postings.where(F.col("centroid_id") == target).select(
        F.col("member_id").alias("vec_id")
    )
    dead_ids = {r.vec_id for r in dead.collect()}
    tombs = S.ivf_index_delete(postings, dead).where("mvec IS NULL")
    S.ivf_store_write(tombs, path, num_buckets=64)

    touched = S.ivf_store_compact(spark, path)
    assert touched == [target % 64]
    # the emptied partition directory is gone from disk
    assert not os.path.isdir(os.path.join(path, f"cell_bucket={target % 64}"))
    back = S.ivf_store_read(spark, path)
    assert back.where(F.col("centroid_id") == target).count() == 0
    assert not {
        r.member_id for r in back.collect()
    } & dead_ids  # no deleted member resurfaces as live
    # idempotent: a second compact finds nothing
    assert S.ivf_store_compact(spark, path) == []


def test_ivf_index_upsert_refresh_readd_and_new(spark):
    """Upsert = delete + targeted compact + frozen-quantizer append:
    an updated vector replaces its member's old posting (exactly one
    live row, rerouted to the new vector's cell), a previously deleted
    member is revived, a brand-new id is a plain append, and untouched
    members never move."""
    import numpy as np

    emb = _ids_only_emb(spark, 128)
    planted = S.planted_embeddings(emb).select("vec_id", "embedding")
    index, postings = S.build_ivf_index(planted)
    before = {
        r.member_id: (r.centroid_id, list(r.mvec))
        for r in postings.collect()
    }

    # refresh ids 0..4 with vectors moved to id 100's neighborhood,
    # revive a deleted id 7, add a brand-new id 5000
    tombstoned = S.ivf_index_delete(
        postings, spark.range(7, 8).selectExpr("id AS vec_id")
    )
    donor = {r.vec_id: list(r.embedding) for r in planted.collect()}
    upd = spark.createDataFrame(
        [(i, donor[100]) for i in range(5)]
        + [(7, donor[100]), (5000, donor[100])],
        "vec_id long, embedding array<double>",
    )
    out = S.ivf_index_upsert(index, tombstoned, upd)
    rows = out.collect()
    assert all(r.mvec is not None for r in rows)  # no tombstones left
    per_member: dict[int, list] = {}
    for r in rows:
        per_member.setdefault(r.member_id, []).append(r)
    assert all(len(v) == 1 for v in per_member.values())
    # incoming members carry the new vector and id-100's routing cell
    cell_100 = before[100][0]
    for mid in [0, 1, 2, 3, 4, 7, 5000]:
        (row,) = per_member[mid]
        assert list(row.mvec) == donor[100]
        assert row.centroid_id == cell_100
    # untouched members keep their exact row
    for mid, (cell, vec) in before.items():
        if mid in {0, 1, 2, 3, 4, 7}:
            continue
        (row,) = per_member[mid]
        assert (row.centroid_id, list(row.mvec)) == (cell, vec)
    assert len(per_member) == 128 + 1  # 128 members + the new id


def test_epoch_materialize_token_accounting_both_regimes(spark):
    """The materialized (doc, epoch) stream tracks the reallocated plan
    per source to one document's granularity: floor(epochs) full
    passes cover every doc, the fractional pass is the deterministic
    md5-ranked token-prefix sized to the leftover, unweighted sources
    emit nothing, and the down-case (epochs < 1) degenerates to a
    single partial pass."""
    from flink_helloworld_spark.operators.sampling import (
        epoch_materialize,
        mixture_reallocate,
    )

    rows = []
    rows += [(i, " ".join(["t"] * 10), "en", "srcA", 1) for i in range(4)]
    rows += [(10 + i, " ".join(["t"] * 25), "en", "srcB", 1) for i in range(4)]
    rows.append((20, "x y", "en", "srcZ", 1))  # unweighted
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    W = {"srcA": 0.7, "srcB": 0.3}
    # up-case: budget 420 > sum U (140): targets prop. to U (A 120, B 300)
    plan = {
        r.source: r
        for r in mixture_reallocate(docs, W, 420).collect()
    }
    out = epoch_materialize(docs, W, 420).collect()
    toks = {r[0]: len(r[1].split()) for r in rows}
    per_src: dict[str, list] = {}
    for r in out:
        per_src.setdefault(r.source, []).append(r)
    assert "srcZ" not in per_src  # unweighted: nothing materialized
    for s in ("srcA", "srcB"):
        p = plan[s]
        got_tokens = sum(toks[r.doc_id] for r in per_src[s])
        max_doc = max(
            toks[i] for i, _, _, src, _ in rows if src == s
        )
        # one-document granularity around the reallocated target
        assert p.realloc_target - max_doc <= got_tokens
        assert got_tokens < p.realloc_target + max_doc
        k = int(p.epochs)
        for e in range(k):  # full passes cover every doc
            ids = sorted(r.doc_id for r in per_src[s] if r.epoch == e)
            assert ids == sorted(
                i for i, _, _, src, _ in rows if src == s
            ), (s, e)
        assert all(r.epoch <= k for r in per_src[s])
    # determinism: byte-identical on rerun
    again = epoch_materialize(docs, W, 420).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # down-case: budget 70 < sum U: all fresh, single partial pass
    out2 = epoch_materialize(docs, W, 70).collect()
    assert all(r.epoch == 0 for r in out2)
    plan2 = {
        r.source: r for r in mixture_reallocate(docs, W, 70).collect()
    }
    for s in ("srcA", "srcB"):
        got = sum(toks[r.doc_id] for r in out2 if r.source == s)
        tgt = plan2[s].realloc_target
        max_doc = max(toks[i] for i, _, _, src, _ in rows if src == s)
        assert tgt - max_doc <= got < tgt + max_doc, s


def test_epoch_pack_stream_composes_plan_into_packed_stream(spark):
    """The composed selection loop (allocator → materialize → pack)
    in one plan: the packed stream's units are EXACTLY the
    epoch_materialize instances with their true token counts (so the
    per-source token accounting of the plan carries through), pack
    offsets are gapless per shard, chunk ids follow the capacity
    arithmetic, and the whole composite is deterministic."""
    from flink_helloworld_spark.operators.sampling import (
        epoch_materialize,
        epoch_pack_stream,
        mixture_reallocate,
    )

    rows = []
    rows += [(i, " ".join(["t"] * 10), "en", "srcA", 1) for i in range(4)]
    rows += [(10 + i, " ".join(["t"] * 25), "en", "srcB", 1) for i in range(4)]
    rows.append((20, "x y", "en", "srcZ", 1))  # unweighted
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    W = {"srcA": 0.7, "srcB": 0.3}
    out = epoch_pack_stream(docs, W, 420, capacity=32, shards=2).collect()
    toks = {r[0]: len(r[1].split()) for r in rows}

    # units == the materialized instances, with true token counts
    mat = sorted(
        (r.doc_id, r.source, r.epoch)
        for r in epoch_materialize(docs, W, 420).collect()
    )
    assert sorted((r.doc_id, r.source, r.epoch) for r in out) == mat
    assert all(r.n_tokens == toks[r.doc_id] for r in out)
    # plan accounting carries through the composite unchanged
    plan = {r.source: r for r in mixture_reallocate(docs, W, 420).collect()}
    for s in ("srcA", "srcB"):
        got = sum(r.n_tokens for r in out if r.source == s)
        max_doc = max(toks[i] for i, _, _, src, _ in rows if src == s)
        assert plan[s].realloc_target - max_doc <= got
        assert got < plan[s].realloc_target + max_doc
    # pack invariants: per shard, offsets are a gapless running sum in
    # (md5, unit) order and chunk ids follow the capacity arithmetic
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= {0, 1}
    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: r.start_offset)
        run = 0
        for r in rs:
            assert r.start_offset == run, shard
            assert r.chunk_id == r.start_offset // 32
            assert r.spans_boundary == (
                r.n_tokens > 0
                and (r.start_offset + r.n_tokens - 1) // 32 != r.chunk_id
            )
            run += r.n_tokens
    again = epoch_pack_stream(docs, W, 420, capacity=32, shards=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_attach_wav_regex_byteswap_matches_pure_python_reference(spark):
    # r11 optimization pin: the one-regexp byte-swap construction must
    # produce byte-identical payloads to an independent pure-Python
    # replay of the documented construction (rate table, md5 stream,
    # per-sample little-endian swap, fixed header)
    import hashlib
    import struct

    from flink_helloworld_spark.operators.multimodal import _WAV_RATES

    texts = ["", "a", "hello world", "x" * 37, "data " * 61, "y" * 251]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: bytes(r.payload)
           for r in MM.attach_wav_binary(docs).collect()}
    for i, t in enumerate(texts):
        rate = _WAV_RATES[len(t) % 4]
        nf = 1 + len(t) % 250
        h = hashlib.md5(t.encode()).hexdigest()
        stream = (h * (nf * 4 // 32 + 1))[: nf * 4]
        data_hex = "".join(
            stream[4 * j + 2 : 4 * j + 4] + stream[4 * j : 4 * j + 2]
            for j in range(nf)
        )
        expected = (
            b"RIFF"
            + struct.pack("<I", 36 + nf * 2)
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data"
            + struct.pack("<I", nf * 2)
            + bytes.fromhex(data_hex)
        )
        assert got[i] == expected, f"payload mismatch for doc {i}"


def test_mulaw_squared_table_and_vectorized_rms_match_scalar_forms(spark):
    # r11 optimization pin: the 256-entry squared-expansion table equals
    # mulaw_expand(b)^2 for every byte, and the vectorized int64 RMS in
    # _decode_wav equals the per-sample Python loop on real payloads
    import math

    from flink_helloworld_spark.operators.multimodal import (
        _MULAW_SQ,
        _decode_wav,
        _wav_samples,
        mulaw_expand,
    )

    for b in range(256):
        assert int(_MULAW_SQ[b]) == mulaw_expand(b) ** 2

    docs = spark.createDataFrame(
        [(i, "sample text " * (i + 1), "en", "s", 1) for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    for row in MM.attach_wav_binary(docs).collect():
        payload = bytes(row.payload)
        decoded = _decode_wav(payload)
        assert decoded is not None
        rate, vals = _wav_samples(payload)
        sum_sq = 0
        for v in vals.tolist():
            sum_sq += v * v
        expect_rms = (
            int(math.floor(math.sqrt(sum_sq / len(vals)))) if len(vals) else 0
        )
        assert decoded[4] == expect_rms


def test_build_postings_frozen_route_matches_route_cells(spark):
    """r12: `build_ivf_index` routes members through the broadcast
    frozen quantizer (`_route_frozen_postings`) instead of the
    distributed `_route_cells` + join-back pipeline. Pin the swap:
    the posting SET (cell, member, vector) and the index's level-1
    home assignment are byte-identical to the old construction,
    replayed here explicitly via `_route_cells`/`_assign_cells_blas`
    over the same quantizer tables."""
    emb = S.planted_embeddings(_ids_only_emb(spark, 192)).select(
        "vec_id", "embedding"
    )
    index, postings = S.build_ivf_index(emb)
    got = sorted(
        (r.centroid_id, r.member_id, tuple(r.mvec))
        for r in postings.collect()
    )
    cent = index.where("level = 1").select(
        F.col("centroid_id"), F.col("cvec")
    )
    sup = index.where("level = 2").select("centroid_id", "cvec")
    cent_home = index.where("level = 1").select(
        F.col("centroid_id").alias("cent_id"), "super_id", "cvec"
    )
    v = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    old = (
        S._route_cells(v, cent_home, sup, n_super_probe=2, n_probe=1)
        .join(v, "id")
        .select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("id").cast("long").alias("member_id"),
            F.col("vec").alias("mvec"),
        )
    )
    expected = sorted(
        (r.centroid_id, r.member_id, tuple(r.mvec)) for r in old.collect()
    )
    assert got == expected and len(got) == 192
    # level-1 home supers: driver BLAS == distributed _assign_cells_blas
    c_as_v = cent.select(
        F.col("centroid_id").alias("id"), F.col("cvec").alias("vec")
    )
    homes_dist = {
        (r.id, r.centroid_id)
        for r in S._assign_cells_blas(c_as_v, sup, n_probe=1).collect()
    }
    homes_idx = {
        (r.centroid_id, r.super_id)
        for r in index.where("level = 1").collect()
    }
    assert homes_idx == homes_dist


def test_route_probes_frozen_matches_route_cells_topn(spark):
    """r12: the query-side probe routing (`_route_probes_frozen` over
    the collected quantizer) must reproduce the distributed
    `_route_cells(...).join(v)` rows EXACTLY at n_probe > 1 — same
    (id, cell, rank) triples, same vectors riding along — including a
    zero-norm query row (all-zero sims → ascending-cell-id ranks)."""
    import numpy as np

    emb = S.planted_embeddings(_ids_only_emb(spark, 192)).select(
        "vec_id", "embedding"
    )
    zero = spark.createDataFrame(
        [(100000, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(zero)
    index, _ = S.build_ivf_index(emb)
    v = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    sup = index.where("level = 2").select("centroid_id", "cvec")
    cent_home = index.where("level = 1").select(
        F.col("centroid_id").alias("cent_id"), "super_id", "cvec"
    )
    for n_probe in (1, 2, 3):
        expected = sorted(
            (r.id, r.centroid_id, r._crn, tuple(r.vec))
            for r in S._route_cells(
                v, cent_home, sup, n_super_probe=2, n_probe=n_probe
            ).join(v, "id").collect()
        )
        got = sorted(
            (r.id, r.centroid_id, r._crn, tuple(r.vec))
            for r in S._route_probes_frozen(
                v, S.collect_ivf_quantizer(index), 2, n_probe
            ).collect()
        )
        assert got == expected, f"n_probe={n_probe}: probe sets differ"
        assert len(got) > 0
