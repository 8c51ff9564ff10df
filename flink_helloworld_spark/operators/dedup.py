"""Deduplication operators (north-star LLM-data pipeline surface).

All hashing is md5-based (portable across engines, so DuckDB oracles can
replay signatures exactly) and all plans are pure built-in column
expressions — no Python UDFs — so shingling, minhashing and banding run
inside whole-stage codegen and scale with input splits.

Scale design:
- exact dedup: one hash-aggregate (map-side partial) on md5(text).
- MinHash-LSH: signatures are computed per-row (no shuffle); the only
  shuffle is the band-bucket self-join, whose key (band_id, band_key)
  is uniform by construction (md5), so no skew. Candidate verification
  touches only colliding pairs, never the full N².
- n-gram Jaccard: candidate pairs are bounded by a cheap blocking key
  (lang) before the quadratic verify, the standard blocking trick.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_helloworld_spark.functions import md5_prefix_long

# Intra-plan persist registry (the shingle table feeds four plan branches
# in minhash_dedup_pairs); re-exported here for back-compat with callers
# that learned the name from this module.
from ._cache import _SHARED_CACHES, release_shared_caches, share  # noqa: F401


# --- tokenization / shingling ---------------------------------------------


# the ENGINE-WIDE tokenization contract lives in text._words; dedup
# signatures, classifier features, and text stats are oracle-pinned to
# agree, so there is exactly one definition to change
from flink_helloworld_spark.operators.text import _words, gopher_core_gate  # noqa: E402,F401


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (an unordered SET:
    every consumer — minhash minima, band keys, Jaccard intersections —
    is order-independent, so no sort is spent on it)."""
    ws = _words(text)
    return shingles_from_words(ws, n)


def shingles_from_words(ws: Column, n: int = 3) -> Column:
    """Distinct word n-grams via ITERATED zip_with of the word array
    against its own 1..n-1 shifts. The obvious index-lambda form
    (`transform(sequence, i -> slice(ws, i+1, n))`) captures ``ws``
    INSIDE the per-element lambda — when a caller passes the raw
    split-of-text expression, CollapseProject re-inlines the whole split
    subtree into every element (O(n²)/row; measured 7× on
    text_fingerprint). zip_with's lambdas touch only their element
    arguments, so ``ws`` and its shifted slices evaluate once per ROW
    no matter what expression the caller hands in."""
    size = F.size(ws)
    g = ws
    for j in range(1, n):
        # shorter shifted array: zip_with null-pads the tail; those
        # partial grams are sliced off below
        g = F.zip_with(
            g,
            F.slice(ws, j + 1, F.greatest(size - j, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    grams = F.slice(g, 1, F.greatest(size - (n - 1), F.lit(0)))
    return F.when(size >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _shingle_sets(words: DataFrame, shingle_n: int) -> DataFrame:
    """(…, ws) → (…, sh): every row with at least ``shingle_n`` words,
    its word array replaced by its distinct shingle set. The emptiness
    filter runs on the materialized word split (a cheap size check) —
    filtering on the shingle column would duplicate the whole shingling
    expression into the pushed-down predicate."""
    rest = [c for c in words.columns if c != "ws"]
    return words.where(F.size("ws") >= shingle_n).select(
        *rest, shingles_from_words(F.col("ws"), shingle_n).alias("sh")
    )


# --- exact dedup ------------------------------------------------------------


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    kept (minimum) doc_id and the copy count."""
    return docs.groupBy(F.md5(text_col).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


# --- MinHash + LSH ----------------------------------------------------------


# MinHash permutation parameters: h_i(x) = (a_i·x + b_i) mod p over the
# 60-bit md5 base hash reduced mod p. Fixed constants shared with the
# DuckDB oracle (deterministic, engine-portable integer arithmetic).
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_PARAMS: list[tuple[int, int]] = [
    (2 * i + 3, 104729 * (i + 1) % MINHASH_P) for i in range(64)
]


def shingle_base_hash(shingle: Column) -> Column:
    """60-bit md5-derived integer reduced mod p — ONE md5 per shingle;
    every permutation is cheap arithmetic on top of it."""
    return md5_prefix_long(shingle) % MINHASH_P


def minhash_signature_from_hashes(hm: Column, num_hashes: int = 12) -> Column:
    """MinHash signature (array<long>) from an array of base hashes.

    Permutation i is the affine map (a_i·h + b_i) mod p; with h < p and
    a_i < p the product stays under 2^62 — exact in any 64-bit engine.
    Raises ``ValueError`` when ``num_hashes`` exceeds the permutations in
    ``MINHASH_PARAMS``: a shorter signature would silently skew every
    estimate and index past the end of every band.
    """
    if num_hashes > len(MINHASH_PARAMS):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the {len(MINHASH_PARAMS)} "
            "MinHash permutations in MINHASH_PARAMS"
        )

    def perm(a: int, b: int):
        # closure factory: the transform lambda must be single-arg
        # (extra params would be bound to the array index by Spark)
        return lambda h: (h * a + b) % MINHASH_P

    return F.array(
        *[
            F.array_min(F.transform(hm, perm(a, b)))
            for a, b in MINHASH_PARAMS[:num_hashes]
        ]
    )


def lsh_band_keys(sig: Column, bands: int, rows: int) -> list[Column]:
    """Band the signature: band key = md5 of the band's joined rows.
    Docs agreeing on any full band collide into the same bucket."""
    return [
        F.md5(
            F.concat_ws(
                "|",
                *[F.element_at(sig, b * rows + r + 1).cast("string") for r in range(rows)],
            )
        )
        for b in range(bands)
    ]


def shingle_table(docs: DataFrame, text_col: str = "text", shingle_n: int = 3) -> DataFrame:
    """(doc_id, sh) — each doc's distinct shingle set, computed once and
    shared by signature, banding, and Jaccard verification."""
    return _shingle_sets(
        docs.select("doc_id", _words(F.col(text_col)).alias("ws")), shingle_n
    )


def _signatures(
    sh_df: DataFrame, num_hashes: int, carry: Sequence[str] = ()
) -> DataFrame:
    """(doc_id, sh, carry…) → (doc_id, sig, carry…). The md5 base hashes
    are their own projection: the permutation minima all reference
    `hm`, and CollapseProject keeps a multiply-used non-cheap alias as a
    separate step — one md5 pass per shingle, not one per permutation."""
    hm_df = sh_df.select(
        "doc_id", F.transform(F.col("sh"), shingle_base_hash).alias("hm"), *carry
    )
    return hm_df.select(
        "doc_id",
        minhash_signature_from_hashes(F.col("hm"), num_hashes).alias("sig"),
        *carry,
    )


def _band_rows(
    sig_df: DataFrame, num_hashes: int, bands: int, carry: Sequence[str] = ()
) -> DataFrame:
    """(doc_id, sig, carry…) → one (doc_id, band_id, band_key, carry…)
    row per band."""
    keys = lsh_band_keys(F.col("sig"), bands, num_hashes // bands)
    return sig_df.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), k.alias("band_key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("bk"),
        *carry,
    ).select("doc_id", "bk.band_id", "bk.band_key", *carry)


def _buckets_from_shingles(
    sh_df: DataFrame, num_hashes: int, bands: int, carry: Sequence[str] = ()
) -> DataFrame:
    """The ONE signature → band-row kernel, batch and streaming
    (`streaming/tws.py: streaming_lsh_dedup` passes its ``carry_cols``)."""
    return _band_rows(_signatures(sh_df, num_hashes, carry), num_hashes, bands, carry)


def minhash_lsh_buckets(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, band_id, band_key) — the LSH bucket assignment. Grouping
    by (band_id, band_key) yields candidate duplicate clusters."""
    return _buckets_from_shingles(
        shingle_table(docs, text_col, shingle_n), num_hashes, bands
    )


def _bucket_pairs(buckets: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """The LSH candidates: distinct (doc_a, doc_b) with doc_a < doc_b
    sharing at least one band bucket — a self-join on the uniform md5
    bucket key, never N². Each ``carry`` column comes along as
    ``<col>_a`` / ``<col>_b``."""
    return (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            *[
                F.col(f"{s}.{c}").alias(f"{c}_{t}")
                for s, t in (("x", "a"), ("y", "b"))
                for c in carry
            ],
        )
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    # nullif: two empty sets → NULL (not ANSI divide-by-zero)
    return inter.cast("double") / F.nullif(union.cast("double"), F.lit(0.0))


def _verified(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs (doc_a, doc_b, …) plus the exact ``jaccard`` of
    their shingle sets: doc_a's set from ``sh_a``, doc_b's from ``sh_b``
    (the same table by default). Touches candidate pairs only."""
    sh_b = sh_a if sh_b is None else sh_b
    return (
        cand.join(sh_a.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh_b.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(*cand.columns, jaccard(F.col("sa.sh"), F.col("sb.sh")).alias("jaccard"))
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified with exact Jaccard.

    Only pairs colliding in ≥1 band are verified — the pair join is on
    the band bucket, never a cross join. Output: (doc_a, doc_b, jaccard,
    is_dup) with doc_a < doc_b. The shingle table is persisted for the
    duration of the plan: it feeds both bucket sides and both verify
    sides, and recomputing the shingling 4× would dominate runtime.
    """
    sh = share(shingle_table(docs, text_col, shingle_n))
    cand = _bucket_pairs(_buckets_from_shingles(sh, num_hashes, bands))
    return _verified(cand, sh).withColumn("is_dup", F.col("jaccard") >= threshold)


def minhash_estimate_audit(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Estimator-quality audit for the minhash family — the quality
    number beside the family's speed numbers (the ANN recall harness's
    counterpart for dedup): per LSH candidate pair, the MinHash
    ESTIMATE of Jaccard (fraction of agreeing signature positions)
    against the exact shingle-set Jaccard, with the absolute error.
    This is the view a 100 TB user tunes num_hashes/bands against:
    banding recall comes from the S-curve, estimate variance from k.

    Output: (doc_a, doc_b, est_jaccard, jaccard, abs_err), candidates
    only (same bucket join as `minhash_dedup_pairs` — never N²).
    """
    sh = share(shingle_table(docs, text_col, shingle_n))
    sig_df = share(_signatures(sh, num_hashes))
    cand = _bucket_pairs(_band_rows(sig_df, num_hashes, bands))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("ga.sig"), F.col("gb.sig"), lambda p, q: p == q),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    estimated = (
        cand.join(sig_df.alias("ga"), F.col("doc_a") == F.col("ga.doc_id"))
        .join(sig_df.alias("gb"), F.col("doc_b") == F.col("gb.doc_id"))
        .select("doc_a", "doc_b", F.round(est, 9).alias("est_jaccard"))
    )
    return _verified(estimated, sh).withColumn(
        "abs_err", F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 9)
    )


def soft_dedup_weights(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Soft deduplication — reweight instead of remove (the SlimPajama /
    soft-dedup recipe surface): every document gets sampling weight
    1 / |its near-dup cluster|, so duplicated CONTENT contributes the
    same expected mass to training as unique content while no document
    is discarded (hard pruning loses the duplicates' formatting/context
    diversity; soft weights keep it at equalized frequency).

    Input: the corpus + verified duplicate pairs (``minhash_dedup_pairs``
    where is_dup). Output: (doc_id, cluster_id, cluster_size, weight)
    for EVERY corpus row — singletons get their own cluster and weight
    1.0, so Σ weight = number of distinct content clusters (test-pinned).

    Scale shape: the CC label table is proportional to DUPLICATED docs
    only; the full corpus is touched by one left join on doc_id —
    text never moves. The weight feeds ``weighted_reservoir`` /
    ``mixture_sample`` directly. The closure is
    ``duplicate_clusters_auto`` (min-label, two-star once a long chain
    shows), so a 41-node chain gets its weights instead of an error
    (test-pinned)."""
    labels = duplicate_clusters_auto(pairs)
    size = F.coalesce("cluster_size", F.lit(1)).cast("int")
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            size.alias("cluster_size"),
            (F.lit(1.0) / size.cast("double")).alias("weight"),
        )
    )


def leakage_safe_split(
    docs: DataFrame, pairs: DataFrame, train_pct: int = 80
) -> DataFrame:
    """Leakage-safe train/holdout split: the unit of assignment is the
    near-dup CLUSTER, not the document — a near-copy of a training doc
    can never land in the holdout (the contamination mode a per-doc
    hash split like ``split_holdout`` cannot prevent, and the reason
    code-model evals dedup across the split boundary).

    Deterministic: split = md5('split:' || cluster_id) % 100 <
    train_pct, so re-runs, engines, and partitionings agree. Output:
    (doc_id, cluster_id, split) for every corpus row; all members of a
    cluster share the split by construction (test-pinned).

    Scale shape: same as ``soft_dedup_weights`` — one doc_id-keyed left
    join against the duplicated-docs-sized label table, on the same
    ``duplicate_clusters_auto`` closure."""
    labels = duplicate_clusters_auto(pairs).select("doc_id", "cluster_id")
    cl = F.coalesce("cluster_id", F.col("doc_id"))
    h = md5_prefix_long(cl.cast("string"), "split:") % 100
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            cl.alias("cluster_id"),
            F.when(h < train_pct, F.lit("train"))
            .otherwise(F.lit("holdout"))
            .alias("split"),
        )
    )


def minhash_band_plan(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Banding layout planner — the (bands, rows) tuning sheet beside
    the estimator audit: for every alternative layout of the SAME
    signature budget (b bands × r = num_hashes/b rows), the expected
    behavior of LSH banding over THIS corpus's audited candidate pairs.
    Per pair with exact Jaccard j, the S-curve gives
    P(collides somewhere) = 1 − (1 − j^r)^b; aggregated over the true
    duplicates (j ≥ threshold) that is the layout's expected recall, and
    over the non-duplicates it is the wasted-verification rate — the
    two numbers that decide b/r at 100 TB (more bands = higher recall +
    more candidate pairs to verify; the budget num_hashes stays fixed).

    Caveat by construction (documented, same as every post-hoc audit):
    the pair set is conditioned on the CURRENT banding's candidates —
    pairs the current layout never surfaces are invisible, so recalls
    are relative to the audited set, not the unobservable all-pairs
    truth. The measured companion is SCALE_NOTES' planted-mixture
    recall curve.

    Output: one row per divisor layout —
    (bands, rows_per_band, n_pairs, n_dups, dup_recall,
    nondup_catch_rate). Determinism: j^r and (1−j^r)^b are explicit
    left-associated multiplication chains (no libm pow), per-pair P is
    rounded to 9 dp and summed as DECIMAL, so the DuckDB replay is
    hash-exact.

    Scale shape: everything downstream of the audit join is a
    6-row-config cross of a bounded candidate table + one aggregate;
    cost is the audit's (candidate-bound, never N²)."""
    audited = share(
        minhash_estimate_audit(
            docs, text_col, num_hashes, bands, shingle_n
        ).select("doc_a", "doc_b", "jaccard")
    )
    layouts = [
        (b, num_hashes // b) for b in range(1, num_hashes + 1) if num_hashes % b == 0
    ]
    arms = None
    for b, r in layouts:
        j = F.col("jaccard")
        jr = j
        for _ in range(r - 1):
            jr = jr * j
        q = F.lit(1.0) - jr
        qb = q
        for _ in range(b - 1):
            qb = qb * q
        p_caught = F.round(F.lit(1.0) - qb, 9)
        arm = audited.select(
            F.lit(b).cast("int").alias("bands"),
            F.lit(r).cast("int").alias("rows_per_band"),
            j.alias("jaccard"),
            p_caught.alias("p_caught"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    is_dup = F.col("jaccard") >= threshold
    dec = "decimal(28,12)"
    agg = arms.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(is_dup.cast("long")).alias("n_dups"),
        F.sum(F.when(is_dup, F.col("p_caught").cast(dec)).otherwise(F.lit(0).cast(dec))).alias("_pd"),
        F.sum(F.when(~is_dup, F.col("p_caught").cast(dec)).otherwise(F.lit(0).cast(dec))).alias("_pn"),
    )
    return agg.select(
        "bands",
        "rows_per_band",
        "n_pairs",
        "n_dups",
        (
            F.col("_pd").cast("double")
            / F.nullif(F.col("n_dups").cast("double"), F.lit(0.0))
        ).alias("dup_recall"),
        (
            F.col("_pn").cast("double")
            / F.nullif((F.col("n_pairs") - F.col("n_dups")).cast("double"), F.lit(0.0))
        ).alias("nondup_catch_rate"),
    )


def lsh_first_arrival(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """First-arrival LSH commit dedup: a doc is KEPT iff it is the
    earliest arrival (minimum doc_id) on EVERY one of its band buckets.

    This is the single-pass, verification-free near-dup gate: every
    arrival claims its buckets, and a later doc colliding with ANY
    earlier claim is dropped. Unlike `minhash_dedup_pairs` it never
    materializes pairs — the decision is two hash aggregations over the
    (doc, bucket) incidence table — which makes it the formulation with
    an exact incremental/streaming twin (`streaming/tws.py:
    streaming_lsh_dedup`): per-bucket state is ONE long (the first
    claimant), independent of how many docs ever hashed there.

    Output: (doc_id, n_bands, n_first, kept) for every input doc. Docs
    too short to shingle have no buckets and pass trivially (n_bands=0).

    Scale shape: buckets is |docs|×bands rows of (long, int, md5) — text
    never shuffles; firsts is a map-side-combinable min per bucket; the
    verdict is one more agg keyed by doc. Reference semantics anchor:
    the dedup stage of the pretrain pipeline (BASELINE.json north-star),
    single-pass variant of StateTest.java's keyed first-wins state.
    """
    # share(): the bucket incidence feeds BOTH the per-bucket min and the
    # verdict join — without it the shingle+signature pipeline (the
    # expensive md5 pass) runs once per branch
    buckets = share(
        minhash_lsh_buckets(docs, text_col, num_hashes, bands, shingle_n)
    )
    firsts = buckets.groupBy("band_id", "band_key").agg(
        F.min("doc_id").alias("first_doc")
    )
    verdict = (
        buckets.join(firsts, ["band_id", "band_key"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bands"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("int"))
            .cast("int")
            .alias("n_first"),
        )
    )
    return docs.select("doc_id").join(verdict, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bands", F.lit(0)).alias("n_bands"),
        F.coalesce("n_first", F.lit(0)).alias("n_first"),
        (F.coalesce("n_bands", F.lit(0)) == F.coalesce("n_first", F.lit(0))).alias(
            "kept"
        ),
    )


def near_dedup_front(
    docs: DataFrame,
    cap: int = 50,
    text_col: str = "text",
    domain_col: str = "source",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Batch twin of ``streaming/tws.py:streaming_near_dedup_front`` —
    the composed ingest front as ONE declarative plan: Gopher-core
    quality gate → LSH first-arrival commit dedup → per-domain
    arrival-order cap (arrival = doc_id, the same in-order contract the
    streaming form runs under). Output (doc_id, source, domain_rank,
    kept) for every doc surviving gate + near-dup gate.

    Each stage is the exact batch rule the streaming query applies
    incrementally, so this is both the backfill form (rebuild the gated
    corpus from the lake) and the replay verifier for the streaming
    front's state. One window per domain; the LSH stage is the pair-free
    two-agg shape of `lsh_first_arrival`.
    """
    gated = docs.where(gopher_core_gate(F.col(text_col)))
    verdicts = lsh_first_arrival(
        gated, text_col, num_hashes, bands, shingle_n
    ).where(F.col("kept"))
    survivors = gated.select("doc_id", domain_col).join(
        verdicts.select("doc_id"), "doc_id"
    )
    w = Window.partitionBy(domain_col).orderBy("doc_id")
    return survivors.select(
        "doc_id",
        F.col(domain_col).alias("source"),
        F.row_number().over(w).cast("int").alias("domain_rank"),
    ).withColumn("kept", F.col("domain_rank") <= cap)


# --- end-to-end corpus cleaning ---------------------------------------------


def corpus_clean(
    docs: DataFrame,
    quality_min: float = 0.5,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The standard LLM corpus-cleaning cascade as ONE declarative plan:

    1. quality filter (cheap per-row score ≥ `quality_min`),
    2. exact dedup (keep the minimum doc_id per distinct text),
    3. MinHash-LSH near-dup removal (for every surviving pair with
       Jaccard ≥ `jaccard_threshold`, drop the higher doc_id).

    Output: surviving (doc_id, lang, n_chars). Each stage shrinks the
    input of the next, so the expensive near-dup join runs on the
    already-reduced survivor set — the shape that matters at 100 TB.
    """
    from flink_helloworld_spark.operators.text import quality_score

    q = quality_score(docs).where(F.col("quality_score") >= quality_min).select("doc_id")
    quality_docs = docs.join(q, "doc_id")
    exact_keep = quality_docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    survivors = quality_docs.join(exact_keep.select("doc_id"), "doc_id")
    near_pairs = minhash_dedup_pairs(
        survivors, "text", num_hashes, bands, shingle_n, jaccard_threshold
    ).where(F.col("is_dup"))
    dropped = near_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return survivors.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_chars"
    )


def pretrain_prep_plan(
    docs: DataFrame,
    quality_min: float = 0.5,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    decon_n: int = 5,
    capacity: int = 2048,
    shards: int = 8,
) -> DataFrame:
    """The full pretrain-prep composite (quality filter → exact dedup →
    MinHash near-dup removal → eval-set decontamination → concat-and-
    chunk packing) as ONE fused plan that tokenizes each document
    EXACTLY ONCE.

    Result-identical to composing `corpus_clean` + `ngram_decontaminate`
    + `pack_sequences` (the r1–r4 form), but restructured for the 100 TB
    wall-clock:

    - the word split is materialized once into `ws` and every stage
      (quality ratios, minhash 3-shingles, decontamination 5-grams,
      packing token counts) derives from it — the composed form split
      the text 4×;
    - the quality filter is an inline predicate on the same projection
      (the composed form scored, projected to doc_id, and joined back —
      a whole extra shuffle of the corpus);
    - exact dedup is one window over md5(text) (`doc_id == min(doc_id)`)
      instead of aggregate-then-self-join — one corpus shuffle, not two.

    The benchmark docs are `doc_id % 20 == 0` (the same 5% eval-suite
    stand-in `ngram_decontaminate`'s standalone query uses); they are
    excluded from the packed corpus and their distinct grams are
    broadcast, so the corpus text itself never shuffles for the
    decontamination probe.
    """
    from flink_helloworld_spark.operators.sampling import pack_sequences
    from flink_helloworld_spark.operators.text import quality_metric_cols

    base = docs.select("doc_id", "text", _words(F.col("text")).alias("ws"))
    score = quality_metric_cols(F.col("text"), F.col("ws"))["quality_score"]
    quality = base.where(score >= quality_min)
    w_exact = Window.partitionBy(F.md5("text"))
    surv = share(
        quality.withColumn("_min_id", F.min("doc_id").over(w_exact))
        .where(F.col("doc_id") == F.col("_min_id"))
        .select("doc_id", "ws")
    )
    # minhash_dedup_pairs' banding/verify shape, fed from the cached word
    # arrays through shingle_table's `_shingle_sets` step instead of
    # re-splitting raw text
    sh = share(_shingle_sets(surv, shingle_n))
    cand = _bucket_pairs(_buckets_from_shingles(sh, num_hashes, bands))
    # no .distinct() on the drop set: it feeds a LEFT ANTI join, where
    # duplicate right-side keys are absorbed by the build-side hash table
    # — a distinct here would be a whole extra shuffle for nothing
    dropped = (
        _verified(cand, sh)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("doc_b").alias("doc_id"))
    )
    corpus = surv.join(dropped, "doc_id", "left_anti").where(
        F.col("doc_id") % 20 != 0
    )
    bench_grams = (
        docs.where(F.col("doc_id") % 20 == 0)
        .select(F.explode(shingles(F.col("text"), decon_n)).alias("g"))
        .distinct()
    )
    # same anti-join-absorbs-duplicates rule: no distinct on hit_ids
    # (bench_grams keeps ITS distinct — that one shrinks the broadcast)
    hit_ids = (
        corpus.select(
            "doc_id", F.explode(shingles_from_words(F.col("ws"), decon_n)).alias("g")
        )
        .join(F.broadcast(bench_grams), "g")
        .select("doc_id")
    )
    keep = corpus.join(hit_ids, "doc_id", "left_anti")
    # n_tokens_of(text) == size(_words(text)) == size(ws): same contract
    toks = keep.select("doc_id", F.size("ws").alias("n_tokens"))
    return pack_sequences(toks, "doc_id", "n_tokens", capacity=capacity, shards=shards)


def corpus_to_manifest(
    docs: DataFrame,
    shards: int = 16,
    quality_min: float = 0.5,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The END-TO-END closing capstone: raw corpus → pretrain_prep's
    survivor set (quality filter → exact dedup → minhash near-dup →
    eval decontamination, the fused single-tokenization plan) →
    ``shard_manifest`` over the survivors — ONE query from crawl to the
    replay-verifiable manifest a trainer's data loader mounts. This is
    the artifact the whole pipeline exists to produce; a second engine
    (or the streaming twin fed the same survivors) reproduces it
    fingerprint-for-fingerprint.

    Scale shape: pretrain_prep's (one tokenization pass, broadcast
    decontamination probe) + one semi join back to the text and the
    manifest's single ``shards``-group hash agg.
    """
    from flink_helloworld_spark.operators.layout import shard_manifest

    packed = pretrain_prep_plan(
        docs, quality_min=quality_min, jaccard_threshold=jaccard_threshold
    )
    kept = docs.join(packed.select("doc_id"), "doc_id", "left_semi")
    return shard_manifest(kept, shards=shards)


# --- SimHash ----------------------------------------------------------------


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-document SimHash fingerprint (token multiplicity counted).

    Token hash = first 8 hex chars of md5 → 32-bit int; simhash bit j is
    the sign of Σ_tokens (±1 by token-hash bit j). Near-duplicate docs
    differ in few bits (compare with hamming_distance/bit ops downstream).
    One explode + one hash-aggregate; no UDFs.
    """
    tok = docs.select(
        "doc_id", F.explode(_words(F.col(text_col))).alias("w")
    ).withColumn("h", F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long"))
    bit_sums = [
        F.sum(
            F.when((F.col("h").bitwiseAND(F.lit(1 << j))) != 0, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    summed = tok.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
        sim = term if sim is None else sim + term
    return summed.select("doc_id", sim.alias("simhash"))


# --- blocked n-gram Jaccard (no minhash) ------------------------------------


def _collapse_shingle_sets(
    docs: DataFrame,
    text_col: str,
    shingle_n: int,
    block_col: str | None = None,
    with_m: bool = False,
):
    """The ONE definition of the identical-set collapse every
    pair-generating dedup operator builds on (review: this scaffolding
    was triplicated across the Jaccard pair ops and containment, a drift
    hazard on the `_seth` serialization and rep tie-break).

    Shingles each doc ONCE (word filter runs on the cheap materialized
    split, not the shingle expression), collapses identical shingle SETS
    to one representative (min doc_id) keyed by ``_seth`` = md5 of the
    deterministic shingle order, and returns ``(members, reps, keys)``:
    members = (keys..., doc_id) for the expansion joins back to
    documents, reps = (keys..., rep, [_m group size], sh) for the
    set-level work, keys = the group key columns ([blk] + _seth). Both
    tables are ``share``d — every downstream branch reads the cache, so
    the corpus-wide shingling (the linear term that dominates at 10×)
    runs once per plan."""
    cols = [F.col("doc_id")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("blk"))
    base = share(
        _shingle_sets(
            docs.select(*cols, _words(F.col(text_col)).alias("ws")), shingle_n
        ).withColumn("_seth", F.md5(F.concat_ws("\x1f", "sh")))
    )
    keys = (["blk"] if block_col is not None else []) + ["_seth"]
    members = base.select(*keys, "doc_id")
    w_grp = Window.partitionBy(*keys)
    rep_cols = [*keys, F.col("doc_id").alias("rep")]
    if with_m:
        rep_cols.append(F.col("_m"))
    rep_cols.append(F.col("sh"))
    reps = share(
        base.withColumn("_rep", F.min("doc_id").over(w_grp))
        .withColumn("_m", F.count(F.lit(1)).over(w_grp))
        .where(F.col("doc_id") == F.col("_rep"))
        .select(*rep_cols)
    )
    return members, reps, keys


def _member_pairs(
    set_pairs: DataFrame,
    members: DataFrame,
    keys: list[str],
    values: dict[str, Column],
    gate: DataFrame | None = None,
) -> DataFrame:
    """The set-pair → member-pair tail of every set-collapsing pair
    operator: (doc_a < doc_b, values…) for every member pair.

    Cross-group pairs: set_pairs carries the group keys suffixed _a/_b
    (``_blk`` for the block key) plus its value columns; joining it back
    to the members on the group key gives (_ida, _idb) per member pair,
    and ``values`` (name → expression over set_pairs' columns, _ida and
    _idb) are the emitted values. Output-proportional work — the joins
    run on the tiny matched-pair table, never the corpus.

    Within-group pairs match by IDENTITY (jaccard 1.0, mutual
    containment), so every value is 1.0 with no candidate re-check.
    ``gate`` optionally restricts them to groups (same key columns) that
    satisfied the operator's candidate rule, so capped variants stay
    faithful to their per-document contract."""
    blk_keys = ["_blk"] if "blk" in keys else []
    blk_cols = [F.col("blk").alias("_blk")] if blk_keys else []
    a_side = members.select(
        *blk_cols, F.col("_seth").alias("_seth_a"), F.col("doc_id").alias("_ida")
    )
    b_side = members.select(
        *blk_cols, F.col("_seth").alias("_seth_b"), F.col("doc_id").alias("_idb")
    )
    cross = (
        set_pairs.join(a_side, blk_keys + ["_seth_a"])
        .join(b_side, blk_keys + ["_seth_b"])
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            *[v.alias(k) for k, v in values.items()],
        )
    )
    cond = (F.col("m1._seth") == F.col("m2._seth")) & (
        F.col("m1.doc_id") < F.col("m2.doc_id")
    )
    if "blk" in keys:
        cond = (F.col("m1.blk") == F.col("m2.blk")) & cond
    within = members.alias("m1").join(members.alias("m2"), cond)
    if gate is not None:
        gcond = F.col("m1._seth") == F.col("_g_seth")
        gsel = [F.col("_seth").alias("_g_seth")]
        if "blk" in keys:
            gcond = (F.col("m1.blk") == F.col("_g_blk")) & gcond
            gsel.insert(0, F.col("blk").alias("_g_blk"))
        within = within.join(gate.select(*gsel), gcond)
    within = within.select(
        F.col("m1.doc_id").alias("doc_a"),
        F.col("m2.doc_id").alias("doc_b"),
        *[F.lit(1.0).alias(k) for k in values],
    )
    return cross.unionByName(within)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    block_col: str = "lang",
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing a blocking key, via the
    standard SHINGLE-INVERTED-INDEX join: explode (block, shingle, set),
    self-join on (block, shingle), and count shared shingles per pair
    with one hash agg — |A∩B| arrives as an integer count and
    |A∪B| = |A|+|B|-|A∩B| from per-set sizes, so the Jaccard doubles
    are bit-identical to the array-intersect form.

    r5: the index is built over DISTINCT shingle sets (`_seth` = md5 of
    the deterministic shingle order; identical docs collapse to one
    representative), and set-level matches expand back to member pairs
    through joins on the group key — within-group pairs are jaccard 1.0
    by identity. Output is unchanged (the oracle still states the plain
    per-document join); the quadratic index join now grows with DISTINCT
    near-dup density only, not with exact-copy multiplicity (which at
    crawl scale is the dominant duplicate mass — measured 15× wall-clock
    at 10×-copies before, ~flat after).

    Remaining cost driver is DISTINCT-set shingle frequency (m sets
    sharing a shingle ⇒ m(m-1)/2 join rows) — the exact-Jaccard analog
    of the minhash banding knob; `ngram_jaccard_pairs_capped` is the
    bounded-cost contract when that density is also adversarial.
    """
    members, reps, keys = _collapse_shingle_sets(
        docs, text_col, shingle_n, block_col=block_col
    )
    sizes = reps.select("rep", F.size("sh").alias("n"))
    ex = reps.select("blk", "_seth", "rep", F.explode("sh").alias("s"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .groupBy(
            F.col("a.blk").alias("_blk"),
            F.col("a._seth").alias("_seth_a"),
            F.col("b._seth").alias("_seth_b"),
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    set_pairs = (
        inter.join(sizes.select(F.col("rep").alias("rep_a"), F.col("n").alias("_na")), "rep_a")
        .join(sizes.select(F.col("rep").alias("rep_b"), F.col("n").alias("_nb")), "rep_b")
        .select(
            "_blk",
            "_seth_a",
            "_seth_b",
            (
                F.col("_inter").cast("double")
                / F.nullif(
                    (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
                    F.lit(0.0),
                )
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    # identical non-empty sets always share every shingle: jaccard 1.0,
    # no candidate condition to re-check
    return _member_pairs(set_pairs, members, keys, {"jaccard": F.col("jaccard")})


def ngram_jaccard_pairs_capped(
    docs: DataFrame,
    text_col: str = "text",
    block_col: str = "lang",
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_df: int = 16,
) -> DataFrame:
    """`ngram_jaccard_pairs` with a DOCUMENT-FREQUENCY CAP on the
    inverted index — the bounded-cost contract for corpora whose
    DISTINCT-set near-dup density is itself adversarial (the uncapped
    operator collapses exact copies but still grows with Σ df² over
    distinct sets).

    Contract: candidate pairs must share at least one RARE shingle
    (block-local document frequency ≤ `max_df`); every candidate is then
    verified with EXACT Jaccard over the FULL shingle sets, so reported
    values are bit-identical to the uncapped operator — the cap only
    costs recall on pairs whose entire overlap is ultra-frequent
    boilerplate shingles (which at threshold 0.2 are overwhelmingly
    non-duplicates anyway: a shingle shared by >max_df docs carries
    ~zero pair-discrimination, exactly like a stopword in retrieval).

    Scale design (r5 rebuild, measured in SCALE_NOTES):

    1. COLLAPSE identical shingle-sets first (`_seth` = md5 of the
       deterministic shingle order): every stage below runs once per
       DISTINCT set, not per document — at crawl density (30–50 % exact
       copies) this alone removes the dominant cost, and the 10×-copies
       replica runs near-flat.
    2. Document frequency is the SUM OF GROUP SIZES over sets containing
       the shingle (a window over the set-level index), so the rare/
       frequent split is exactly the per-document contract.
    3. The rare self-join doubles as the |A∩B|-over-rare counter, and a
       SOUND bound |A∩B| ≤ shared_rare + min(|freq_A|, |freq_B|) prunes
       set pairs that cannot reach the threshold before the O(|A|+|B|)
       array verify (pure pruning — survivors verify exactly, so neither
       step 1 nor 3 changes the output and the oracle mirrors only the
       df cap).
    4. Set-level matches expand back to member pairs through joins on
       the group key (within-group pairs are jaccard 1.0 by identity,
       emitted only when the group's set has ≥1 rare shingle, same as
       the per-document candidate rule) — output-proportional work.
    """
    members, reps, keys = _collapse_shingle_sets(
        docs, text_col, shingle_n, block_col=block_col, with_m=True
    )
    ex = reps.select("blk", "_seth", "rep", "_m", F.explode("sh").alias("s"))
    w_df = Window.partitionBy("blk", "s")
    rare = share(
        ex.withColumn("_df", F.sum("_m").over(w_df))
        .where(F.col("_df") <= max_df)
        .select("blk", "_seth", "rep", "s")
    )
    stats = share(
        reps.select("blk", "_seth", "rep", F.size("sh").alias("_n"))
        .join(
            rare.groupBy("rep").agg(F.count(F.lit(1)).alias("_nr")),
            "rep",
            "left",
        )
        .select(
            "blk",
            "_seth",
            "rep",
            "_n",
            F.coalesce("_nr", F.lit(0)).alias("_nr"),
            (F.col("_n") - F.coalesce("_nr", F.lit(0))).alias("_nf"),
        )
    )
    shared_rare = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .groupBy(F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"))
        .agg(F.count(F.lit(1)).alias("_sr"))
    )
    bounded = (
        shared_rare.join(
            stats.select(
                F.col("rep").alias("rep_a"),
                F.col("_n").alias("_na"),
                F.col("_nf").alias("_fa"),
            ),
            "rep_a",
        )
        .join(
            stats.select(
                F.col("rep").alias("rep_b"),
                F.col("_n").alias("_nb"),
                F.col("_nf").alias("_fb"),
            ),
            "rep_b",
        )
        .withColumn("_max_inter", F.col("_sr") + F.least("_fa", "_fb"))
        .where(
            F.col("_max_inter").cast("double")
            / F.nullif(
                (F.col("_na") + F.col("_nb") - F.col("_max_inter")).cast("double"),
                F.lit(0.0),
            )
            >= threshold
        )
        .select("rep_a", "rep_b")
    )
    set_pairs = (
        bounded.join(
            reps.select(
                F.col("rep").alias("rep_a"),
                F.col("blk").alias("_blk"),
                F.col("_seth").alias("_seth_a"),
                F.col("sh").alias("_sh_a"),
            ),
            "rep_a",
        )
        .join(
            reps.select(
                F.col("rep").alias("rep_b"),
                F.col("_seth").alias("_seth_b"),
                F.col("sh").alias("_sh_b"),
            ),
            "rep_b",
        )
        .select(
            "_blk",
            "_seth_a",
            "_seth_b",
            jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    # identity matches, gated on the per-document candidate rule: the
    # group's set must hold >= 1 rare shingle
    return _member_pairs(
        set_pairs, members, keys, {"jaccard": F.col("jaccard")},
        gate=stats.where(F.col("_nr") > 0),
    )


# --- duplicate clustering (connected components) ----------------------------


def duplicate_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over near-duplicate pairs: every document in a
    duplicate cluster labeled with the cluster's minimum doc_id (the
    canonical survivor) plus the cluster size.

    This is the stage after ``minhash_dedup_pairs``: pairwise matches say
    "A~B, B~C"; keeping one copy per GROUP needs the transitive closure.
    Input: (doc_a, doc_b) rows with doc_a < doc_b (already filtered to
    is_dup). Output: (doc_id, cluster_id, cluster_size) for every doc in
    a cluster of size >= 2, cluster_id = min doc_id of the component.

    Algorithm: iterative min-label propagation to a fixpoint —
    label(v) <- min(label(v), min over neighbors' labels) — the same
    driver-loop shape as plans.iterate_fixpoint, with localCheckpoint
    truncating lineage per round. Near-dup components are shallow (a
    cluster of k rewrites of one page has diameter ~1-2), so this
    converges in 2-3 rounds; adversarial long-chain graphs need
    alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce"), which contracts paths logarithmically with
    the same per-round join shape (``duplicate_clusters_twostar``).
    ``duplicate_clusters_auto`` picks between the two from a bounded
    min-label probe, and it is the closure the cluster consumers
    (``soft_dedup_weights``, ``leakage_safe_split``, ``cluster_prune``)
    run. Each round is one shuffle on node id; nothing is collected to
    the driver except the 1-row convergence count. If ``max_iters`` is
    exhausted before the fixpoint this RAISES (same contract as
    two-star): an unconverged label table silently under-merges
    clusters — wrong sizes, wrong survivors — which round 7's
    41-node-chain consumer test caught against the old behavior.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .localCheckpoint(eager=False)
    )
    # seed with round 1's fixpoint step: label(v) = min(v, neighbors(v))
    # — same cost as a distinct-nodes init, one fewer loop iteration
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_m"))
        .select("node", F.least("node", "_m").alias("label"))
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry a changed-flag through the checkpoint so convergence is a
        # scan of the materialized step, not another old-vs-new join job
        stepped = (
            labels.join(nbr_min, labels.node == nbr_min.node2, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "new_label"
                ),
                (F.coalesce("nbr_label", "label") < F.col("label")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.where("_chg").count()
        labels = stepped.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iters} rounds "
            "— an unconverged label table silently under-merges clusters; "
            "raise max_iters, or use the O(log n) two-star closure "
            "(duplicate_clusters_twostar, or duplicate_clusters_auto) for "
            "long-chain graphs"
        )
    # size via window on the label key (one shuffle) — a size TABLE would
    # be one row per cluster, far too big to broadcast at corpus scale
    w = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).cast("int").alias("cluster_size"),
    )


def duplicate_clusters_auto(
    pairs: DataFrame, probe_rounds: int = 8
) -> DataFrame:
    """The MEASURED-DIAMETER guard over the two closure algorithms
    (VERDICT r7 item 7): run min-label propagation with a bounded
    round cap as the probe — real near-dup components are shallow
    rewrites of one page (diameter 1-3, so min-label converges in 2-3
    rounds and is the cheaper algorithm) — and dispatch to the
    O(log n) two-star contraction ONLY when the probe exhausts, i.e.
    when the graph demonstrably contains a chain longer than
    ``probe_rounds`` (boilerplate rings, templated mirrors).

    The trade, stated plainly: on an adversarial graph the probe's
    ``probe_rounds`` shuffles are thrown away before two-star starts —
    that waste is bounded and rare, while the common-case win (never
    paying two-star's ~log n rounds on shallow graphs) applies to
    every run. Both algorithms share the exact output contract
    (doc_id, cluster_id = component min, cluster_size), so the
    dispatch is invisible downstream — the oracle is
    ``duplicate_clusters``'s verbatim, and the long-chain test pins
    that the fallback path fires and produces min-label-identical
    labels."""
    try:
        return duplicate_clusters(pairs, max_iters=probe_rounds)
    except RuntimeError:
        return duplicate_clusters_twostar(pairs)


# --- benchmark decontamination ---------------------------------------------


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Eval-set decontamination: flag corpus docs sharing any word
    ``n``-gram with a benchmark document (the standard pretraining
    hygiene step — exact n-gram overlap, n=5..13 in published recipes).

    Scale shape: the benchmark side (eval suites, ~10^5 grams) collapses
    to a DISTINCT gram set and is broadcast, so the 100 TB corpus side is
    a map-side hash semi-probe + one partial-aggregated groupBy on
    doc_id — the corpus text itself never shuffles. Returns one row per
    corpus doc: (doc_id, n_hit_ngrams, contaminated).
    """
    bench_grams = benchmark.select(
        F.explode(shingles(F.col(text_col), n)).alias("g")
    ).distinct()
    corpus_grams = corpus.select(
        "doc_id", F.explode(shingles(F.col(text_col), n)).alias("g")
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))  # grams pre-distinct per doc
    )
    return corpus.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
        (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).alias("contaminated"),
    )


def incremental_dedup(
    existing: DataFrame, incoming: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Snapshot-ingest dedup: classify each incoming doc against the
    already-ingested corpus AND its own batch — the shape every
    continuously-growing training corpus runs on each crawl drop.

    Returns (doc_id, status) with status in {'new', 'dup_of_corpus',
    'dup_in_batch'}: batch duplicates keep their minimum doc_id as the
    'new' representative (when the content is absent from the corpus).

    Scale shape: both sides reduce to content hashes before any join —
    the corpus side is DISTINCT hashes (its own dedup index, reusable
    across drops), joined on the hash key; no text ever shuffles. The
    within-batch rank is a window over the same hash key, so the whole
    op is two hash-partitioned passes over hashes, not documents.
    """
    ex = existing.select(F.md5(text_col).alias("h")).distinct().withColumn(
        "_in_corpus", F.lit(True)
    )
    inc = incoming.select("doc_id", F.md5(text_col).alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = inc.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.join(ex, "h", "left")
        .select(
            "doc_id",
            F.when(F.col("_in_corpus").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("_rk") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def incremental_near_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Snapshot-ingest NEAR-dup classification — the near-duplicate
    upgrade of `incremental_dedup`: each incoming doc is classified
    against the already-ingested corpus AND its own drop using the same
    LSH-candidates + exact-Jaccard-verify contract as
    `minhash_dedup_pairs`.

    Returns (doc_id, status) per incoming doc with status in
    {'new', 'near_dup_of_corpus', 'near_dup_in_batch'}:
    'near_dup_of_corpus' = verified Jaccard >= threshold vs ANY corpus
    doc sharing a band bucket; else 'near_dup_in_batch' = verified vs
    ANY smaller-id doc in the same drop (first arrival stays 'new' —
    same precedence rule as the exact operator).

    Scale shape: the corpus side reduces to its (doc_id, bucket)
    incidence + shingle sets — exactly the persistent LSH index a
    continuously-growing corpus maintains across drops; each drop joins
    its own (small) bucket table against the index on the bucket key,
    never corpus x drop. Verification touches candidate pairs only.
    """
    sh_ex = share(shingle_table(existing, text_col, shingle_n))
    sh_in = share(shingle_table(incoming, text_col, shingle_n))
    b_ex = _buckets_from_shingles(sh_ex, num_hashes, bands)
    b_in = _buckets_from_shingles(sh_in, num_hashes, bands)
    # corpus candidates: (doc_a = incoming, doc_b = corpus), any order
    cand_c = (
        b_in.alias("i")
        .join(b_ex.alias("e"), ["band_id", "band_key"])
        .select(F.col("i.doc_id").alias("doc_a"), F.col("e.doc_id").alias("doc_b"))
        .distinct()
    )
    dup_c = (
        _verified(cand_c, sh_in, sh_ex)
        .where(F.col("jaccard") >= threshold)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("_dup_corpus", F.lit(True))
    )
    dup_b = (
        _verified(_bucket_pairs(b_in), sh_in)
        .where(F.col("jaccard") >= threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_dup_batch", F.lit(True))
    )
    return (
        incoming.select("doc_id")
        .join(dup_c, "doc_id", "left")
        .join(dup_b, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_dup_corpus").isNotNull(), F.lit("near_dup_of_corpus"))
            .when(F.col("_dup_batch").isNotNull(), F.lit("near_dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 12,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Asymmetric containment dedup: |A∩B| / |A| per candidate pair in
    BOTH directions. High containment with low Jaccard is the signature
    of a document wrapped in boilerplate (nav chrome, license headers) —
    the case symmetric Jaccard dedup systematically misses.

    Candidates come from the same LSH machinery as minhash_dedup_pairs
    but banded 12x1 (any matching minhash ⇒ candidate): a contained doc
    shares only a fraction of the superset's shingles, so the symmetric
    4x3 banding would miss it — rows=1 trades candidate volume for the
    recall containment needs (still a bucket self-join, never N²).

    r5 scale rebuild, same recipe as `ngram_jaccard_pairs`:

    - identical shingle SETS collapse to one representative before any
      banding (identical sets ⇒ identical signatures ⇒ identical
      buckets), and set-level matches expand back through group-key
      joins — within-group pairs are 1.0/1.0 containment by identity,
      and the asymmetric values SWAP when the member-pair id order flips;
    - `max_bucket` caps bucket membership as the SUM OF GROUP SIZES
      (exactly the per-document contract): a bucket of m docs
      contributes m(m-1)/2 candidates, and 10×-density grew pairs 121×
      through degenerate exact-copy buckets that upstream exact dedup
      collapses in any real pipeline. Every bucket at tested scales
      survives the cap (max observed membership 21 at sf0.1 vs 64).
    """
    members, reps, keys = _collapse_shingle_sets(
        docs, text_col, shingle_n, with_m=True
    )
    buckets = _buckets_from_shingles(
        reps.select(F.col("rep").alias("doc_id"), "sh", "_seth", "_m"),
        num_hashes,
        bands,
        carry=["_seth", "_m"],
    )
    if max_bucket is not None:
        w_b = Window.partitionBy("band_id", "band_key")
        buckets = (
            buckets.withColumn("_wm", F.sum("_m").over(w_b))
            .where(F.col("_wm") <= max_bucket)
            .drop("_wm")
        )
    # candidates are representative pairs (doc_a/doc_b = rep ids)
    cand = _bucket_pairs(buckets, carry=["_seth"])
    # materialize the intersection size as its own projection: it feeds
    # both containment ratios, and CollapseProject would otherwise inline
    # the O(|A|+|B|) array_intersect into each use (computed twice)
    set_pairs = (
        cand.join(
            reps.select(F.col("rep").alias("doc_a"), F.col("sh").alias("_sh_a")),
            "doc_a",
        )
        .join(
            reps.select(F.col("rep").alias("doc_b"), F.col("sh").alias("_sh_b")),
            "doc_b",
        )
        .select(
            "_seth_a",
            "_seth_b",
            F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
            .cast("double")
            .alias("_inter"),
            F.size("_sh_a").cast("double").alias("_na"),
            F.size("_sh_b").cast("double").alias("_nb"),
        )
        .select(
            "_seth_a",
            "_seth_b",
            (F.col("_inter") / F.nullif(F.col("_na"), F.lit(0.0))).alias("_cab"),
            (F.col("_inter") / F.nullif(F.col("_nb"), F.lit(0.0))).alias("_cba"),
        )
        .where((F.col("_cab") >= threshold) | (F.col("_cba") >= threshold))
    )
    # asymmetric values follow the id order of the emitted pair;
    # identical sets: 1.0/1.0 containment, candidate rule = the group's
    # buckets survived the cap (any one band suffices)
    a_first = F.col("_ida") < F.col("_idb")
    return _member_pairs(
        set_pairs,
        members,
        keys,
        {
            "containment_a_in_b": F.when(a_first, F.col("_cab")).otherwise(F.col("_cba")),
            "containment_b_in_a": F.when(a_first, F.col("_cba")).otherwise(F.col("_cab")),
        },
        gate=buckets.select("_seth").distinct(),
    )


def _span_windows(docs: DataFrame, w: int, text_col: str) -> DataFrame:
    """(doc_id, pos, span_hash): every stride-1 ``w``-word window of
    every doc with at least ``w`` words, hashed with md5 — the one
    window walker of the span family."""
    base = docs.select("doc_id", _words(F.col(text_col)).alias("_ws")).where(
        F.size("_ws") >= w
    )
    return base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_ws") - w),
                lambda i: F.md5(F.array_join(F.slice(F.col("_ws"), i + 1, w), " ")),
            )
        ).alias("pos", "span_hash"),
    )


def _span_islands(hits: DataFrame, w: int) -> DataFrame:
    """Gaps-and-islands merge of flagged windows (doc_id, pos) into
    maximal runs (doc_id, span_start, span_end), end exclusive: a window
    opens a new island when it starts past the running max of earlier
    window ends. Pure integer arithmetic; partitioned by doc_id, so the
    state is one document's flagged windows."""
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + w).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = hits.withColumn(
        "_brk",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn("_island", F.sum("_brk").over(w_doc))
    return isl.groupBy("doc_id", "_island").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + w).cast("int").alias("span_end"),
    )


def repeated_spans(
    docs: DataFrame,
    w: int = 10,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide repeated-span detection — the hashed form of
    exact-substring dedup (the suffix-array approach of "Deduplicating
    Training Data Makes Language Models Better", re-expressed as a
    group-by): every w-token sliding window (stride 1, so within-doc
    repeats count too, unlike the distinct-set ``shingles``) is hashed,
    and spans occurring ``min_count``+ times across the corpus come back
    as ``(span_hash, n_occ, n_docs, exemplar_doc)``.

    Scale shape: window fan-out is linear in token count; the ONE
    shuffle groups md5 span hashes (uniform keys, no skew) with map-side
    partial counts — document text never shuffles. Production removal =
    semi-join docs against flagged (doc, pos) windows and cut those byte
    ranges; the detection pass here is the expensive, distributed half.
    """
    return (
        _span_windows(docs, w, text_col)
        .groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("exemplar_doc"),
        )
        .where(F.col("n_occ") >= min_count)
    )


def repeated_span_coverage(
    docs: DataFrame,
    w: int = 10,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-span coverage: what fraction of each
    doc's tokens sits inside a window that repeats (``min_count``+
    occurrences corpus-wide)? The removal-policy half of
    ``repeated_spans`` — pipelines drop or trim docs above a coverage
    threshold instead of performing byte surgery.

    Overlapping flagged windows are merged with a gaps-and-islands pass
    (running max of interval ends, pure integer arithmetic — no float
    crosses the engine boundary except the final ratio): covered tokens
    = Σ island lengths. Scale shape: the span hash agg is the one wide
    shuffle; the island pass partitions by doc_id, so state is bounded
    by a single document's flagged windows.
    """
    spans = _span_windows(docs, w, text_col)
    flagged = (
        spans.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("span_hash")
    )
    hits = spans.join(flagged, on="span_hash").select("doc_id", "pos")
    cov = (
        _span_islands(hits, w)
        .groupBy("doc_id")
        .agg(F.sum(F.col("span_end") - F.col("span_start")).alias("covered_tokens"))
    )
    return (
        docs.select(
            "doc_id", F.size(_words(F.col(text_col))).cast("bigint").alias("n_tokens")
        )
        .join(cov, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias("covered_tokens"),
            (
                F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
                / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0))
            ).alias("dup_frac"),
        )
    )


def max_spans(
    docs: DataFrame,
    w: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    keep_first: bool = True,
) -> DataFrame:
    """MAXIMAL duplicated spans — the distributed approximation of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): where ``repeated_spans`` flags
    fixed-w hashed windows, this merges ADJACENT/OVERLAPPING flagged
    windows into maximal runs, so a duplicated passage of any length
    ≥ w comes back as ONE span with its true extent — the span a
    suffix-array pass would report, recovered without building a
    distributed suffix array (VERDICT r7 next-round item 6).

    ``keep_first=True`` (the Lee et al. removal policy) spans only the
    NON-EXEMPLAR occurrences: for each window hash the corpus-wide
    first occurrence (minimal ``(doc_id, pos)``) survives, so one copy
    of every duplicated passage remains scrubbed nowhere.
    ``keep_first=False`` gives the detection view (every occurrence of
    every flagged window, the ``repeated_span_coverage`` candidate
    set).

    Output: ``(doc_id, span_start, span_end, span_tokens)`` — token
    offsets, end exclusive, one row per maximal run.

    Scale shape: window fan-out is linear in token count; flagging and
    exemplar choice ride ONE shuffle on the md5 span hash (count +
    row_number over the same partition key — uniform keys, no skew);
    the gaps-and-islands merge partitions by doc_id, so its state is
    bounded by one document's flagged windows. Document text never
    shuffles.
    """
    occ = _span_windows(docs, w, text_col)
    # ONE span_hash shuffle serves both the >=min_count flag and the
    # exemplar rank (corpus-wide first occurrence of each window)
    wh = Window.partitionBy("span_hash")
    who = wh.orderBy("doc_id", "pos")
    marked = occ.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(wh).alias("_n"),
        F.row_number().over(who).alias("_rn"),
    ).where(F.col("_n") >= min_count)
    if keep_first:
        marked = marked.where(F.col("_rn") > 1)
    return _span_islands(marked, w).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
    )


def max_span_scrub(
    docs: DataFrame,
    w: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    keep_first: bool = True,
) -> DataFrame:
    """The corpus REWRITE over ``max_spans``: cut every maximal
    duplicated span (non-exemplar occurrences under ``keep_first``)
    out of its document — byte surgery instead of whole-doc dropping,
    the other half of the Lee et al. recipe next to
    ``repeated_span_coverage``'s drop-policy signal.

    Output: one row per input document — ``(doc_id, n_tokens,
    scrubbed_tokens, clean_text)``. ``clean_text`` is the surviving
    tokens joined with single spaces (the tokenizer's whitespace
    normalization — same contract as ``boilerplate_scrub``).

    Scale shape: ``max_spans``'s two shuffles, plus one doc_id join to
    carry the per-doc island list (bounded by that doc's span count)
    back onto the token array; the cut itself is a pure higher-order
    filter inside codegen — text crosses the exchange once.
    """
    words = docs.select("doc_id", _words(F.col(text_col)).alias("_ws"))
    spans = max_spans(
        docs, w=w, min_count=min_count, text_col=text_col,
        keep_first=keep_first,
    )
    isl = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_isl"),
        F.sum("span_tokens").cast("long").alias("_cut"),
    )
    covered = lambda i: F.exists(  # noqa: E731 — nested HOF lambda
        F.col("_isl"),
        lambda r: (i >= r["span_start"]) & (i < r["span_end"]),
    )
    return (
        words.join(isl, "doc_id", "left")
        .withColumn(
            "_isl",
            F.coalesce(
                "_isl",
                F.expr(
                    "CAST(array() AS array<struct<span_start:int,span_end:int>>)"
                ),
            ),
        )
        .select(
            "doc_id",
            F.size("_ws").cast("long").alias("n_tokens"),
            F.coalesce("_cut", F.lit(0)).alias("scrubbed_tokens"),
            F.array_join(
                F.filter("_ws", lambda tok, i: ~covered(i)), " "
            ).alias("clean_text"),
        )
    )


# --- corpus rewrite: keep one doc per near-dup cluster ---------------------


def cluster_prune(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The corpus REWRITE that near-dup detection exists for: given the
    verified duplicate pairs, keep exactly one document per duplicate
    cluster (the minimum doc_id — the same canonical-survivor rule as
    ``duplicate_clusters``) and drop the rest. Returns the surviving
    corpus rows plus ``dups_removed`` — how many near-copies each
    survivor absorbed (0 for docs in no cluster), so downstream mixture
    weighting can up-weight heavily-duplicated content if desired
    (the Lee et al. "Deduplicating Training Data" recipe surface).

    Scale shape: cluster membership is proportional to the DUPLICATED
    subset, not the corpus — the full corpus is touched only by one
    left anti/left join pair on doc_id (hash-partitioned, no text
    movement beyond the survivor projection). The transitive closure
    is ``duplicate_clusters_auto``: min-label propagation (per-round
    shuffles on node id, driver sees only 1-row convergence counts),
    switching to the O(log n) large-star/small-star closure when its
    round probe shows a long chain — the 41-node chain keeps only its
    minimum (test-pinned).
    """
    clusters = duplicate_clusters_auto(pairs)
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    absorbed = clusters.where(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", (F.col("cluster_size") - 1).cast("int").alias("_absorbed")
    )
    return (
        docs.join(losers, "doc_id", "left_anti")
        .join(absorbed, "doc_id", "left")
        .select(
            *[c for c in docs.columns],
            F.coalesce(F.col("_absorbed"), F.lit(0)).alias("dups_removed"),
        )
    )


def decontamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """The eval-suite-side view of ``ngram_decontaminate``: one row per
    BENCHMARK document — how many corpus docs share at least one word
    ``n``-gram with it, and how many (corpus_doc, gram) hits in total.
    This is the report an eval owner reads to decide which benchmark
    items are burned before trusting a score (the corpus-side flag says
    what to drop; this side says which eval rows are compromised).

    Scale shape: identical to ``ngram_decontaminate`` — the benchmark
    gram table (bench_id, gram) is small and BROADCAST, the 100 TB
    corpus side is a map-side hash probe, and the only shuffle is the
    final aggregation on bench_id (keyspace = the eval suite, tiny).
    Grams are per-doc DISTINCT on both sides, so "hits" counts
    (corpus_doc, gram) pairs once each.
    """
    bench_grams = benchmark.select(
        F.col("doc_id").alias("bench_id"),
        F.explode(shingles(F.col(text_col), n)).alias("g"),
    )
    corpus_grams = corpus.select(
        "doc_id", F.explode(shingles(F.col(text_col), n)).alias("g")
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("bench_id")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_hit"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        )
    )
    return (
        benchmark.select(F.col("doc_id").alias("bench_id"))
        .join(hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_docs_hit", F.lit(0)).alias("n_docs_hit"),
            F.coalesce("n_gram_hits", F.lit(0)).alias("n_gram_hits"),
            (F.coalesce("n_docs_hit", F.lit(0)) > 0).alias("compromised"),
        )
    )


def duplicate_clusters_twostar(pairs: DataFrame, max_iters: int = 64) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the adversarial-scale path ``duplicate_clusters``'s
    docstring points at: min-label propagation needs O(diameter) rounds,
    this contracts paths LOGARITHMICALLY, so a 100 TB crawl with freak
    million-node chains (boilerplate rings, templated mirrors) still
    converges in ~log n shuffles. Same output contract as
    ``duplicate_clusters``: (doc_id, cluster_id = component min,
    cluster_size) for every doc in a cluster of size >= 2.

    Each round is two grouped aggregations + joins on node id (uniform
    keys, map-side partials); edges keep the child>parent orientation
    invariant. Convergence (the star forest: every node points at its
    component minimum) is detected by an order-independent
    (count, XOR-of-edge-hashes) checksum computed as ONE small aggregate
    scan of each materialized round — edge sets are distinct, so equal
    checksums mean equal sets (modulo a ~2^-60 collision) without the
    old-vs-new anti-join shuffle; the driver sees two scalars per round,
    never data. ``max_iters=64`` covers any graph a 64-bit id space can
    hold (rounds needed ≈ log2(longest path)); if the cap is somehow
    exhausted the function RAISES rather than returning the structurally
    invalid multi-membership rows an unconverged edge set would yield —
    the members derivation below is only correct at the fixpoint.
    """
    def _checksum(edges: DataFrame) -> tuple:
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(
                md5_prefix_long(
                    F.concat_ws(":", F.col("u"), F.col("v"))
                )
            ).alias("x"),
        ).collect()[0]
        return (row.n, row.x)

    e = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sum = _checksum(e)
    converged = False
    for _ in range(max_iters):
        # LARGE-STAR: every strictly-larger neighbor of u links to the
        # minimum of u's closed neighborhood
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # SMALL-STAR: u's parents (all < u by orientation) re-link to
        # their minimum; u links there too
        pmin = ls.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            ls.join(pmin, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        new_e = (
            relink.unionByName(pmin.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sum = _checksum(new_e)
        stable = new_sum == prev_sum
        prev_sum = new_sum
        e = new_e
        if stable:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"two-star contraction did not converge in {max_iters} rounds "
            "— refusing to emit an unconverged (structurally invalid) "
            "edge set; raise max_iters"
        )
    members = e.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    ).unionByName(
        e.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    ).distinct()
    w = Window.partitionBy("cluster_id")
    return members.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("int").alias("cluster_size"),
    )


def boilerplate_scrub(
    docs: DataFrame,
    w: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate removal — the corpus REWRITE that
    ``repeated_spans`` / ``repeated_span_coverage`` only report on
    (their docstrings defer the "byte surgery"; this performs it): each
    document is cut into non-overlapping ``w``-word segments (stride
    ``w``, so removal is well-defined — overlapping spans cannot both
    be excised), a segment whose exact text occurs in ``min_docs``+
    DISTINCT documents is boilerplate (headers, navigation chrome,
    license blocks — the CCNet paragraph-dedup shape from "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    re-keyed on fixed word windows because the synthetic corpus has no
    newline structure), and the surviving segments are reassembled in
    order.

    Returns ``(doc_id, clean_text, n_segments, n_dropped)`` for every
    input document (a fully-boilerplate document comes back with
    ``clean_text = ''``), so the output is a drop-in replacement corpus.

    Scale shape: segment fan-out is ``ceil(tokens/w)`` rows per doc
    (linear, an order of magnitude cheaper than the stride-1 span
    families); the global frequency pass is ONE hash-aggregate on
    md5(segment) with map-side partials — uniform keys, no skew, and
    only the 32-byte hash shuffles for counting. The verdict join is
    keyed on the same hash, and reassembly is a per-doc sort-free
    ``array_sort(collect_list(struct(idx, ...)))`` whose state is
    bounded by a single document's segment count. Nothing touches the
    driver. Reference anchor: the removal policy half of
    StateTest-style cleanup pipelines; semantics source for the span
    family is ``repeated_spans``.
    """
    base = docs.select("doc_id", _words(F.col(text_col)).alias("_ws"))
    n_seg = F.ceil(F.size("_ws") / F.lit(w)).cast("int")
    # Spark's sequence(1, 0) yields a DESCENDING [1, 0], not [] — a
    # zero-word doc must produce zero segments, so gate on n_seg > 0
    # (posexplode drops the empty array; the left join below restores
    # the doc with clean_text = '').
    seg_arr = F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(1), n_seg),
            lambda i: F.array_join(
                F.slice(F.col("_ws"), (i - F.lit(1)) * w + 1, w), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = base.select(
        "doc_id",
        F.posexplode(seg_arr).alias("seg_idx", "seg_text"),
    ).withColumn("seg_hash", F.md5("seg_text"))
    freq = segs.groupBy("seg_hash").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    kept = segs.join(freq, "seg_hash").select(
        "doc_id",
        "seg_idx",
        "seg_text",
        (F.col("n_docs") < min_docs).alias("_keep"),
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct("seg_idx", "_keep", "seg_text")
                        )
                    ),
                    lambda s: s["_keep"],
                ),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_segments"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1))
        .cast("int")
        .alias("n_dropped"),
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — the audit view between two ingest
    versions: per document id, ``added`` (only in new), ``removed``
    (only in old), ``changed`` (content hash differs) or ``unchanged``.
    A re-crawl pipeline runs this before re-paying dedup/selection for
    documents that didn't move; the output feeds `dedup_incremental`'s
    only-new-work contract.

    Scale shape: ONE full outer join keyed on the id (both sides
    pre-hashed to a 32-byte md5 so the join never carries text), one
    status projection. No windows, no driver state.
    """
    o = old.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("old_hash")
    )
    n = new.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("new_hash")
    )
    return o.join(n, "id", "full_outer").select(
        F.col("id").alias(id_col),
        "old_hash",
        "new_hash",
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") == F.col("new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 4,
    max_hamming: int = 10,
) -> DataFrame:
    """Multi-pass sorted-neighborhood near-dup blocking (Hernández &
    Stolfo 1995) — the third candidate-generation family beside hash
    banding (minhash/containment) and set-collapse: sort by a
    similarity-clustering key (the 32-bit simhash), slide a ``window``,
    and emit in-window pairs within ``max_hamming`` bits. Two passes
    with different keys (raw simhash; halves-swapped simhash) recover
    the pairs a single sort order splits across block boundaries — the
    published multi-pass answer to blocking loss.

    Scale shape: NO global sort — each pass buckets by the key's top 8
    bits (256 uniform blocks) and sorts only within a block (the lead
    window partitions on the block). A pair whose keys straddle a block
    boundary in one pass is adjacent in the other pass's order unless
    the docs genuinely differ. Everything is integer bit arithmetic +
    two bounded window passes; candidates are window-bounded at
    N·(window-1) per pass, never N².

    Output: (doc_a, doc_b, hamming), doc_a < doc_b, distinct.
    """
    sh = simhash(docs, text_col)
    half = F.lit(1 << 16)
    all_pairs = None
    for p in range(2):
        key = (
            F.col("simhash")
            if p == 0
            else F.pmod(F.col("simhash"), half) * half
            + F.floor(F.col("simhash") / half).cast("long")
        )
        keyed = sh.select(
            "doc_id",
            "simhash",
            key.alias("k"),
        ).withColumn("blk", F.floor(F.col("k") / F.lit(1 << 24)).cast("int"))
        w = Window.partitionBy("blk").orderBy("k", "doc_id")
        for off in range(1, window):
            keyed = keyed.withColumn(
                f"n{off}_id", F.lead("doc_id", off).over(w)
            ).withColumn(f"n{off}_sh", F.lead("simhash", off).over(w))
        for off in range(1, window):
            pr = keyed.where(F.col(f"n{off}_id").isNotNull()).select(
                F.least("doc_id", f"n{off}_id").alias("doc_a"),
                F.greatest("doc_id", f"n{off}_id").alias("doc_b"),
                F.bit_count(
                    F.col("simhash").bitwiseXOR(F.col(f"n{off}_sh"))
                ).alias("hamming"),
            )
            all_pairs = pr if all_pairs is None else all_pairs.unionAll(pr)
    return (
        all_pairs.where(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )


# --- content-defined chunking (CDC) -----------------------------------------


def cdc_chunks(
    docs: DataFrame,
    w: int = 4,
    mod: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking over the word stream — the
    backup-dedup / FastCDC boundary rule re-expressed on tokens: word
    position i (0-based, i ≥ w−1) ENDS a chunk when the md5 of the
    w-word window ending at i ≡ 0 (mod ``mod``); the last word always
    closes the final chunk. Expected chunk length ≈ ``mod`` words
    (geometric), and — the property fixed-stride chunking lacks — an
    insertion or deletion only re-chunks the neighborhood of the edit:
    every boundary whose window doesn't straddle the edit survives, so
    chunk hashes stay stable for the untouched remainder (tested).

    Output: one row per chunk — (doc_id, chunk_idx, start_tok,
    chunk_len, chunk_hash).

    Scale shape: everything is per-row array arithmetic inside the
    scan partition (window hash → boundary filter → start/end zip →
    posexplode); NO shuffle at all — chunking 100 TB is exactly one
    pass over the corpus splits. The md5-per-position term is the same
    cost class as ``repeated_spans``'s stride-1 windows.
    """
    ws = _words(F.col(text_col))
    n = F.size(ws)

    def _is_boundary(i):
        win = F.array_join(F.slice(ws, i - (w - 2), w), " ")
        return (
            md5_prefix_long(win) % F.lit(int(mod))
            == 0
        )

    ends0 = F.when(
        n >= w,
        F.filter(F.sequence(F.lit(w - 1), n - 1), _is_boundary),
    ).otherwise(F.array().cast("array<int>"))
    # always close the final chunk at the last token (try_element_at:
    # a doc with no content boundary has an EMPTY ends0)
    ends = F.when(
        F.try_element_at(ends0, F.lit(-1)) == n - 1, ends0
    ).otherwise(F.concat(ends0, F.array(n - 1)))

    base = docs.where(n > 0).select(
        "doc_id",
        ws.alias("_ws"),
        ends.alias("_ends"),
    )
    starts = F.transform(
        F.col("_ends"),
        lambda e, idx: F.when(idx == 0, F.lit(0)).otherwise(
            F.element_at(F.col("_ends"), idx) + 1
        ),
    )
    chunks = base.select(
        "doc_id",
        "_ws",
        F.posexplode(F.arrays_zip(starts.alias("s"), F.col("_ends").alias("e"))),
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("chunk_idx"),
        F.col("col.s").cast("int").alias("start_tok"),
        (F.col("col.e") - F.col("col.s") + 1).cast("int").alias("chunk_len"),
        F.md5(
            F.array_join(
                F.slice(
                    F.col("_ws"),
                    F.col("col.s") + 1,
                    F.col("col.e") - F.col("col.s") + 1,
                ),
                " ",
            )
        ).alias("chunk_hash"),
    )
    return chunks


def cdc_chunk_dedup(
    docs: DataFrame,
    w: int = 4,
    mod: int = 16,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide duplicated-chunk report over ``cdc_chunks`` — the
    storage-dedup view of a text corpus: chunks whose content hash
    repeats (within or across documents), with occurrence/document
    counts and the corpus-first exemplar. Because boundaries are
    content-defined, a passage duplicated with different surroundings
    still lands on the same chunk hashes — the robustness
    ``repeated_spans``'s fixed windows get from stride-1 enumeration,
    here at ~1/``mod`` of the hash volume.

    Scale shape: ONE md5-keyed hash-aggregate (uniform keys, map-side
    partials); document text never shuffles.
    """
    c = cdc_chunks(docs, w=w, mod=mod, text_col=text_col)
    return (
        c.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("exemplar_doc"),
            F.min("chunk_len").alias("chunk_len"),
        )
        .where(F.col("n_occ") >= F.lit(int(min_count)))
    )
