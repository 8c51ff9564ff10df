"""Similarity search over embedding columns (north-star surface).

Two paths:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  O(N²) dot products but fully distributed (block self-join, no driver
  collection); fine for verification scales and as the verifier for the
  approximate path.
- ``lsh_cosine_topk``: the 100 TB path — random-hyperplane signs bucket
  vectors so only same-bucket pairs are scored. Hyperplanes are derived
  deterministically from md5, so results are reproducible (and the
  operator needs no fitted model state).

Dot products are computed as left-to-right double sums of
``zip_with`` products (pure built-ins, codegen-friendly) — bit-identical
to the DuckDB oracle's indexed ``list_sum`` formulation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_helloworld_spark.functions import md5_prefix_long, seed_topk
from flink_helloworld_spark.operators._numeric import (
    pack_scaled_int,
    round_half_away,
)

# Driver budget for one collected centroid / codebook table, in float64
# values (rows × dim): 2^26 values = 512 MiB, under both Spark's default
# 1 GiB ``spark.driver.maxResultSize`` and the 8g default driver heap.
_COLLECT_MAX_VALUES = 1 << 26


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cosine(a: Column, b: Column) -> Column:
    """Cosine of two array columns as sequential folds; NULL when either
    is a zero vector."""
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def _unit_rows(mat) -> np.ndarray:
    """L2-normalize the rows of ``mat``; a zero row's norm is forced to
    +inf, so it stays all-zero and scores cosine 0.0 against anything
    (the oracle yields NULL there — zero vectors never match)."""
    mat = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = np.inf
    return mat / norms[:, None]


def _nearest(q_unit, c_unit, n: int, round_dp: int) -> np.ndarray:
    """Column indices of each row's ``n`` nearest rows of ``c_unit`` by
    cosine ROUNDED to ``round_dp``; the stable sort keeps ascending
    column order on ties, so id-sorted candidates break ties by lowest
    id (the oracle's rule)."""
    sims = round_half_away(q_unit @ c_unit.T, round_dp)
    return np.argsort(-sims, axis=1, kind="stable")[:, :n]


def _score_pairs(q_ids, q_mat, m_ids, m_mat, round_dp: int):
    """The per-cell scan kernel: rounded cosines of every (query,
    member) pair whose ids differ (self excluded), as parallel arrays
    ``(query_idx, member_idx, cosine)``. Raw rows in; one BLAS product
    per call. Pass the same array as both sides for an all-pairs block."""
    q_unit = _unit_rows(q_mat)
    m_unit = q_unit if m_mat is q_mat else _unit_rows(m_mat)
    sims = round_half_away(q_unit @ m_unit.T, round_dp)
    qi, mi = np.nonzero(q_ids[:, None] != m_ids[None, :])
    return qi, mi, sims[qi, mi]


def _row_topk(sims: np.ndarray, col_ids: np.ndarray, k: int):
    """Per-row top-``k`` of a score block by (score desc, column id
    asc), dropping ``-inf`` (excluded self) entries: parallel arrays
    ``(row_idx, col_idx, rank)`` in row-major order, rank 1-based."""
    take = min(k, sims.shape[1])
    keys = (np.broadcast_to(col_ids, sims.shape), -sims)
    order = np.lexsort(keys, axis=1)[:, :take]
    ri, pos = np.nonzero(np.isfinite(np.take_along_axis(sims, order, axis=1)))
    return ri, order[ri, pos], pos + 1


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Global top-k over scored candidate pairs ``(query_id,
    neighbor_id, cosine)`` by (cosine desc, neighbor id) — a
    partitioned window, never a global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _collect_table(df: DataFrame, what: str):
    """Collect a small ``(id, vec, ...)`` table (centroids, supers, a
    codebook) to the driver, sorted by ascending id — the deterministic
    tie order every ranking here relies on. Returns ``(ids, mat, rows)``
    with ``mat`` the raw float64 vectors and ``rows`` the id-sorted Rows
    (for any extra columns). Raises ``ValueError`` when the table holds
    more than ``_COLLECT_MAX_VALUES`` vector values, before any NumPy
    copy or broadcast of it is built."""
    rows = df.collect()
    n_values = sum(len(r[1]) for r in rows)
    if n_values > _COLLECT_MAX_VALUES:
        raise ValueError(
            f"{what}: {len(rows)} rows hold {n_values} vector values, over "
            f"the driver collect budget _COLLECT_MAX_VALUES = "
            f"{_COLLECT_MAX_VALUES}"
        )
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return ids, mat, rows


def _md5_sample(v: DataFrame, n: int, salt: str = "") -> DataFrame:
    """The ``n`` rows of ``v`` with the lowest md5(``salt`` || id) rank
    (``seed_topk``; ``_rn`` = 1..n) — the fitted-state-free seed every
    centroid, codebook and training sample here is drawn with."""
    key = F.col("id").cast("string")
    if salt:
        key = F.concat(F.lit(salt), key)
    return seed_topk(v.withColumn("_h", md5_prefix_long(key)), n)


def _md5_centroids(v: DataFrame, n: int, salt: str = "") -> DataFrame:
    """``_md5_sample`` of ``(id, vec)`` as a ``(centroid_id, cvec)``
    centroid table."""
    return _md5_sample(v, n, salt).select(
        F.col("id").alias("centroid_id"), F.col("vec").alias("cvec")
    )


def _recall_tally(tagged: DataFrame, exact: DataFrame, *keys: str) -> DataFrame:
    """Recall of ANN arms against exact top-k pairs: ``tagged`` holds
    ``(*keys, query_id, neighbor_id)`` rows, ``exact`` the ground-truth
    ``(query_id, neighbor_id)`` pairs. One row per arm: ``(*keys,
    n_hits, n_ann, n_exact, recall)`` with recall = hits / n_exact —
    one membership hash join, one small agg, and the total as a
    broadcast 1-row aggregate (never an eager count)."""
    hits = (
        tagged.join(
            exact.withColumn("_hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
        )
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_ann"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits"),
        )
    )
    tot = exact.groupBy().agg(F.count(F.lit(1)).alias("n_exact"))
    return hits.crossJoin(F.broadcast(tot)).select(
        *keys,
        "n_hits",
        "n_ann",
        "n_exact",
        (
            F.col("n_hits").cast("double")
            / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0))
        ).alias("recall"),
    )


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (excluding self), ranked
    by (similarity desc, neighbor id) for deterministic ties."""
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    pairs = (
        v.alias("q")
        .join(v.alias("c"), F.col("q.id") != F.col("c.id"))
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("neighbor_id"),
            _cosine(F.col("q.vec"), F.col("c.vec")).alias("cosine"),
        )
    )
    return _rank_topk(pairs, k)


def cosine_topk_exact_sharded(
    emb: DataFrame,
    k: int = 5,
    q_shards: int | None = None,
    c_shards: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    queries_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs top-k cosine — the scale form of ``cosine_topk``
    (same candidate set: every pair, no bucketing/recall loss), computed
    as a 2-D block decomposition: queries are md5-sharded into
    ``q_shards`` groups and replicated across ``c_shards`` candidate
    shards, so each (q_shard, c_shard) task scores one
    (N/G)×(N/H) block with ONE BLAS product, keeps its per-block top-k
    per query, and a final per-query window merges the H·k survivors.

    No driver materialization: the shuffle is N·(G+H) replicated rows on
    uniform md5 shard keys; per-task memory is one block, so the kernel
    scales out by raising the shard counts. The interpreted
    ``cosine_topk`` stays as the 60-line reference implementation —
    identical output under this rounded-ranking contract.

    Determinism: cosines round to ``round_dp`` and rank on the ROUNDED
    value (tiebreak neighbor id), same contract as
    ``cosine_topk_vectorized_sharded``; zero vectors never match.

    ``q_shards``/``c_shards`` default to max(8, ⌈N/256⌉) so blocks stay
    ~256×256 as the corpus grows: total work is inherently O(N²) (this
    IS the exhaustive baseline — the ANN family is the sub-quadratic
    route), but per-TASK work stays constant and the N²-growth lands in
    task COUNT, which is what a cluster absorbs. The shard count is the
    only scalar that touches the driver."""
    import math

    import pandas as pd

    if q_shards is None or c_shards is None:
        auto = max(8, math.ceil(emb.count() / 256))
        q_shards = q_shards or auto
        c_shards = c_shards or auto
    if queries_df is None:
        queries_df = emb

    # queries_df restricts the QUERY side only (recall audits at scale
    # sample their query set; candidates stay the full corpus) — the
    # kernel's id-equality self-exclusion is independent of whether the
    # query rows also appear on the candidate side
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    v_q = queries_df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    qs = (md5_prefix_long(F.col("id"), "xshard:") % q_shards).cast("int")
    cs = (md5_prefix_long(F.col("id"), "yshard:") % c_shards).cast("int")
    q_rep = v_q.select(
        "id",
        "vec",
        qs.alias("qs"),
        F.explode(F.sequence(F.lit(0), F.lit(c_shards - 1))).alias("cs"),
        F.lit(True).alias("is_q"),
    )
    c_rep = v.select(
        "id",
        "vec",
        F.explode(F.sequence(F.lit(0), F.lit(q_shards - 1))).alias("qs"),
        cs.alias("cs"),
        F.lit(False).alias("is_q"),
    )
    tagged = q_rep.unionByName(c_rep)

    block_schema = "query_id long, neighbor_id long, cosine double"

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["is_q"]]
        c = pdf[~pdf["is_q"]]
        if len(q) == 0 or len(c) == 0:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "cosine"])
        q_ids = q["id"].to_numpy(dtype=np.int64)
        c_ids = c["id"].to_numpy(dtype=np.int64)
        sims = round_half_away(
            _unit_rows(list(q["vec"])) @ _unit_rows(list(c["vec"])).T, round_dp
        )
        sims[q_ids[:, None] == c_ids[None, :]] = -np.inf  # exclude self
        ri, ci, _ = _row_topk(sims, c_ids, k)
        return pd.DataFrame(
            {"query_id": q_ids[ri], "neighbor_id": c_ids[ci], "cosine": sims[ri, ci]}
        )

    block_top = tagged.groupBy("qs", "cs").applyInPandas(per_block, block_schema)
    return _rank_topk(block_top, k)


def cosine_topk_vectorized_sharded(
    emb: DataFrame,
    k: int = 5,
    planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Sharded vectorized top-k — the 100 TB form of the BLAS kernel.

    Candidate semantics match ``lsh_cosine_topk`` (only same-bucket pairs
    are scored), but the per-bucket scoring is one NumPy matrix product
    inside grouped ``applyInPandas`` instead of per-pair column
    expressions. There is NO driver materialization: the only shuffle is
    the hash exchange on the md5-uniform bucket id, and each task holds
    one bucket (~N/2^planes vectors) — memory is bounded per shard, not
    per index, so the kernel scales out with buckets.

    Determinism contract: cosines are rounded to ``round_dp`` decimals
    and ranked by the ROUNDED value (tiebreak: neighbor id asc), which
    makes the output independent of float summation order (BLAS vs the
    DuckDB oracle's sequential list-sum) and therefore value-hash-exact
    against the SQL oracle. Zero vectors never match (norm forced to
    +inf), mirroring the oracle's NULL-cosine exclusion as long as the
    corpus has no all-zero embeddings (the testdata has none).
    """
    import pandas as pd

    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket(F.col(vec_col), planes, dims).alias("bucket"),
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat_n = _unit_rows(list(pdf["vec"]))
        sims = round_half_away(mat_n @ mat_n.T, round_dp)  # one BLAS call per bucket
        np.fill_diagonal(sims, -np.inf)  # exclude self
        ri, ci, rank = _row_topk(sims, ids, k)
        return pd.DataFrame(
            {
                "query_id": ids[ri],
                "rank": rank.astype(np.int32),
                "neighbor_id": ids[ci],
                "cosine": sims[ri, ci],
            }
        )

    return v.groupBy("bucket").applyInPandas(
        per_bucket, "query_id long, rank int, neighbor_id long, cosine double"
    )


def hyperplane_bucket(
    vec: Column, planes: int = 8, dims: int = 64, seed: str = ""
) -> Column:
    """Random-hyperplane LSH bucket id for a vector.

    Plane p's component d is a deterministic ±1 derived from one md5 hex
    char of ('{seed}p:d') — a reproducible signed random projection.
    Bucket id = the `planes` sign bits packed into an int. Cosine-similar
    vectors agree on most sign bits, so near neighbors collide.

    ``seed`` rotates the whole plane set (the banded gate derives band
    b's planes with seed ``f"{b}~"``); the default empty seed is the
    original single-band plane family. Because plane p's signs depend
    only on (seed, p, d) — not on ``planes`` — a bucket at fewer planes
    is the same bucket masked to its low bits:
    ``bucket(planes=q) == bucket(planes=p) % 2**q`` for q <= p, which is
    what lets the recall sweep share one incidence table across arms.
    """
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        # ±1 pattern for this plane, one literal array per plane —
        # built as ONE expr string: a tree of 64 F.lit Columns costs
        # ~64 py4j round-trips per plane, which dominated DataFrame
        # BUILD time (4.9s for the 80-plane banded incidence)
        signs = [
            1 if int(_md5_hexchar(f"{seed}{p}:{d}"), 16) % 2 == 0 else -1
            for d in range(dims)
        ]
        arr = F.expr(
            "array(" + ",".join(f"{float(s)!r}D" for s in signs) + ")"
        )
        proj = F.aggregate(
            F.zip_with(vec, arr, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return bucket


def _md5_hexchar(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()[0]


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: pairs of vectors in the
    same hyperplane bucket with cosine ≥ threshold (id_a < id_b).

    The scale path for semantic dedup: candidate generation is the
    bucket self-join (uniform md5-derived buckets); each bucket's exact
    cosines are ONE Arrow/BLAS matrix product inside grouped
    ``applyInPandas`` (the sharded-kernel shape — a bucket self-join of
    interpreted ``zip_with`` dot products ran 49× at 10× rows on the
    duplicate-dense replica; this form is ~linear). Cosines are rounded
    to 6 dp before the threshold test and in the output, so BLAS
    summation order agrees with the sequential oracle."""
    import pandas as pd

    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket(F.col(vec_col), planes, dims).alias("bucket"),
    )
    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)  # ascending → upper triangle is id_a < id_b
        ids = ids[order]
        mat_n = _unit_rows(list(pdf["vec"].iloc[order]))
        sims = round_half_away(mat_n @ mat_n.T, 6)
        ia, ib = np.triu_indices(len(ids), 1)
        keep = sims[ia, ib] >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cosine": sims[ia, ib][keep]}
        )

    return v.groupBy("bucket").applyInPandas(
        per_bucket, "id_a long, id_b long, cosine double"
    )


def embedding_first_arrival(
    emb: DataFrame,
    planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space first-arrival dedup gate — the batch twin of
    ``streaming/tws.py:streaming_embedding_dedup`` and the vector-side
    analog of the text gate ``dedup.lsh_first_arrival``: a vector is
    kept iff it is the lowest-id arrival in its hyperplane bucket
    (cosine-similar vectors agree on most sign bits, so near-dups
    collide; ``planes`` is the recall/precision dial — see the
    similarity_recall_curve measurements).

    Returns ``(vec_id, bucket, kept)`` for EVERY input vector — a
    drop-in admission verdict for an embedding ingest.

    Twin-parity precondition: this batch form keeps the LOWEST id per
    bucket; the streaming twin keeps the FIRST ARRIVAL — identical
    verdicts only when ids are monotone in arrival order (the in-order
    contract the parity tests replay).

    Scale shape: one projection (the bucket is pure column arithmetic),
    one bucket-keyed min — a single map-side-combinable hash aggregate;
    nothing quadratic, nothing Python. The streaming twin holds one
    long of state per bucket ever claimed."""
    from pyspark.sql import Window

    b = emb.select(
        F.col(id_col),
        hyperplane_bucket(F.col(vec_col), planes, dims).alias("bucket"),
    )
    w = Window.partitionBy("bucket")
    return b.select(
        id_col,
        "bucket",
        (F.col(id_col) == F.min(id_col).over(w)).alias("kept"),
    )


def embedding_band_incidence(
    emb: DataFrame,
    planes: int = 8,
    bands: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The (vector, band, bucket) incidence table shared by the banded
    gate and its recall sweep: band b's bucket is ``hyperplane_bucket``
    under the md5-rotated seed ``f"{b}~"``, so the ``bands`` plane sets
    are independent. All buckets are computed in ONE stateless
    projection and the embedding array never survives it — the exploded
    rows are (long, int, long)."""
    return (
        emb.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).cast("int").alias("band_id"),
                            hyperplane_bucket(
                                F.col(vec_col), planes, dims, seed=f"{b}~"
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(
            id_col,
            F.col("bb.band_id").alias("band_id"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


def embedding_first_arrival_banded(
    emb: DataFrame,
    planes: int = 8,
    bands: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded (OR-construction) embedding ingest gate — the vector-side
    analog of ``dedup.lsh_first_arrival`` and the fix for the
    single-band gate's corpus-scale ceiling (VERDICT r6 item 1): one
    8-plane band has 2^8 = 256 buckets TOTAL, so at most 256 vectors are
    ever admitted and the false-collision rate approaches 1 on a diverse
    corpus. Here each vector claims a bucket in ``bands`` INDEPENDENT
    md5-rotated plane sets and is kept iff it is the lowest-id arrival
    on EVERY band — i.e. dropped iff ANY band collides with an earlier
    claim. Recall (true near-dups dropped) rises with ``bands`` at fixed
    ``planes``, while each band's false-collision probability stays
    ``planes``-controlled and a FALSE drop now needs the colliding pair
    to agree on all ``planes`` sign bits in SOME band — measured on the
    planted mixture by ``embedding_gate_recall_curve``.

    The dials, honestly: admissions are still capped at 2^planes
    (kept ⇒ first on band 0 ⇒ distinct band-0 buckets), so ``planes``
    is the CAPACITY + precision dial and ``bands`` the recall dial —
    the classic OR-of-AND S-curve. At corpus scale run planes 16–24
    (2^20 ≈ 1M buckets/band, false-collision → 0), where a SINGLE
    band's recall collapses (measured 0.468 at planes=20), and restore
    it with bands (0.925 at 4 bands, 0.978 at 8 — SCALE_NOTES r7).
    State stays ∝ bands × distinct-content claims: only CLAIMED buckets
    hold a long, never 2^planes preallocated.

    Output: ``(vec_id, n_bands, n_first, kept)`` for every input vector
    (``n_bands`` is always ``bands`` — kept for schema parity with the
    text gate, whose short-doc rows have fewer).

    Twin-parity precondition: keeps the LOWEST id per (band, bucket);
    the streaming twin (``streaming/tws.py:
    streaming_embedding_dedup_banded``) keeps the FIRST ARRIVAL —
    identical verdicts only under id-monotone arrival (the in-order
    contract the parity tests replay).

    Scale shape: ONE stateless projection computes all band buckets (the
    embedding never leaves its scan partition); the exchange carries
    |V|×bands (long, int, long) rows; firsts is a map-side-combinable
    min per (band, bucket); the verdict is one more agg keyed by id.
    Nothing quadratic, nothing Python. The streaming twin holds one long
    of state per (band, bucket) ever claimed — state rows ≈ bands ×
    distinct-content claims.

    Reference semantics anchor: the keyed first-wins state pattern of
    StateTest.java, composed per-band like the dedup stage of the
    pretrain pipeline.
    """
    from flink_helloworld_spark.operators._cache import share

    # share(): the incidence feeds BOTH the per-bucket min and the
    # verdict join — without it the bands × planes projection runs twice
    inc = share(
        embedding_band_incidence(emb, planes, bands, dims, id_col, vec_col)
    )
    firsts = inc.groupBy("band_id", "bucket").agg(
        F.min(id_col).alias("first_id")
    )
    return (
        inc.join(firsts, ["band_id", "bucket"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bands"),
            F.sum((F.col(id_col) == F.col("first_id")).cast("int"))
            .cast("int")
            .alias("n_first"),
        )
        .select(
            id_col,
            "n_bands",
            "n_first",
            (F.col("n_bands") == F.col("n_first")).alias("kept"),
        )
    )


def embedding_first_arrival_verified(
    emb: DataFrame,
    threshold: float = 0.9,
    planes: int = 8,
    bands: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    sq: bool = False,
) -> DataFrame:
    """VERIFIED banded embedding gate: a bucket collision only drops a
    vector after an exact cosine check against the bucket's OWNER (the
    lowest-id claimant) — kept iff NO band collision verifies at
    cosine ≥ ``threshold``.

    ``sq=True`` (VERDICT r7 item 3) checks against the owner's SQ8
    RECONSTRUCTION (``sq_reconstruct``) instead of the full-precision
    vector — the batch twin of a streaming gate that holds int8 codes
    in bucket state (~dims bytes instead of dims float64s, the ~8×
    state cut). Asymmetric by design (the arriving vector keeps full
    precision, the STORED side is quantized — the ``sq_cosine_topk``
    contract); the quantization error is bounded by the per-dimension
    scale, and the recall-curve twin measures that false drops stay 0
    at threshold 0.9 on the planted grid.

    The operating point this buys: the unverified banded gate needs
    planes 16–24 for near-zero false collisions (2^20 buckets/band of
    state spread); verification gets zero false drops at planes=8
    (256 buckets/band — the state-LEAN setting) because a hash
    collision alone no longer decides. The trade is the verification
    work (one rounded cosine per collision) and the greedy-owner
    contract: a vector is checked against its bucket's owner ONLY — a
    near-dup pair that never shares a bucket with either one as owner
    can slip, which is the same banding-recall trade the unverified
    gate has (recall still rises with ``bands``).

    Output: ``(vec_id, n_collisions, n_verified, kept)`` per vector —
    collisions = bands whose bucket has a lower-id owner, verified =
    those whose owner cosine ≥ threshold, kept = (n_verified == 0).

    Scale shape: the incidence/firsts aggs are the banded gate's; the
    verification join touches only COLLIDING rows (≤ |V|×bands) and
    fetches exactly two vectors per collision through id-keyed joins —
    no pair blowup beyond the collision count, nothing quadratic.
    Cosines round to ``round_dp`` (the engine's oracle-parity
    contract). A streaming twin would need the owner VECTOR in bucket
    state (64 doubles/bucket instead of one long) — a documented
    state-size trade left to the unverified TWS gates.

    Reference semantics anchor: the keyed first-wins state pattern of
    StateTest.java composed per band (as in ``lsh_first_arrival``),
    with the candidate-then-verify split of the MinHash family
    (``minhash_dedup_pairs``: hash candidates, exact-verify before
    acting) applied to the vector side.
    """
    from flink_helloworld_spark.operators._cache import share

    inc = share(
        embedding_band_incidence(emb, planes, bands, dims, id_col, vec_col)
    )
    firsts = inc.groupBy("band_id", "bucket").agg(
        F.min(id_col).alias("owner_id")
    )
    collisions = (
        inc.join(firsts, ["band_id", "bucket"])
        .where(F.col(id_col) != F.col("owner_id"))
        .select(id_col, "band_id", "owner_id")
    )
    verified = (
        _with_owner_cosine(collisions, emb, sq, dims, id_col, vec_col, round_dp)
        .select(id_col, (F.col("_cos") >= threshold).alias("_hit"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_collisions"),
            F.sum(F.col("_hit").cast("int")).cast("int").alias("n_verified"),
        )
    )
    return (
        emb.select(id_col)
        .join(verified, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_collisions", F.lit(0)).alias("n_collisions"),
            F.coalesce("n_verified", F.lit(0)).alias("n_verified"),
            (F.coalesce("n_verified", F.lit(0)) == 0).alias("kept"),
        )
    )


def _with_owner_cosine(
    pairs: DataFrame,
    emb: DataFrame,
    sq: bool,
    dims: int,
    id_col: str,
    vec_col: str,
    round_dp: int,
) -> DataFrame:
    """``pairs`` (carrying ``id_col`` and ``owner_id``) joined by id to
    both vectors — the owner's SQ8 reconstruction when ``sq`` — plus
    their cosine rounded to ``round_dp`` as ``_cos``."""
    v = emb.select(F.col(id_col), F.col(vec_col).alias("_v"))
    owner_src = (
        sq_reconstruct(emb, dims=dims, id_col=id_col, vec_col=vec_col) if sq else emb
    )
    o = owner_src.select(F.col(id_col).alias("owner_id"), F.col(vec_col).alias("_ov"))
    return (
        pairs.join(v, id_col)
        .join(o, "owner_id")
        .withColumn("_cos", F.round(_cosine(F.col("_v"), F.col("_ov")), round_dp))
    )


def embedding_gate_verified_recall_curve(
    emb: DataFrame,
    threshold: float = 0.9,
    bands_sweep: tuple[int, ...] = (2, 4, 8),
    planes_sweep: tuple[int, ...] = (6, 8),
    n_clusters: int = 16,
    dims: int = 64,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    sq: bool = False,
) -> DataFrame:
    """Recall / false-drop sweep for the VERIFIED banded gate on the
    planted mixture — the quality table that justifies the state-lean
    operating point as driver-gated rows (measured first in SCALE_NOTES
    r7: zero false drops in EVERY cell at planes 6-8 where the
    unverified gate's false-collision rate reaches 0.44).

    ``sq=True`` sweeps the SQ8-owner variant (verification against the
    reconstructed owner — the int8-state streaming gate's batch twin):
    the quality table that certifies the ~8× state cut costs nothing
    on the planted grid at threshold 0.9.

    Per arm: recall = true near-dups dropped / true near-dups;
    false_drop_rate = cluster-firsts wrongly dropped / cluster-firsts.
    A vector drops iff ANY of its first k bands has a lower-id bucket
    OWNER whose rounded cosine is >= ``threshold``.

    FUSED exactly like ``embedding_gate_recall_curve`` — one incidence
    table at (max bands, max planes); planes arms mask bucket bits,
    bands arms prefix the band list — plus ONE rounded cosine per
    (vector, band, planes-arm) row against that arm's bucket owner
    (owner rows verify trivially false). Everything is column
    expressions over id-keyed joins; nothing quadratic, nothing Python.
    """
    planted, masked, truth = _gate_sweep_inputs(
        emb, planes_sweep, max(bands_sweep), n_clusters, dims, sample_mod,
        id_col, vec_col,
    )
    owners = masked.groupBy("planes", "band_id", "mb").agg(
        F.min(id_col).alias("owner_id")
    )
    flags = _with_owner_cosine(
        masked.join(owners, ["planes", "band_id", "mb"]),
        planted, sq, dims, id_col, vec_col, round_dp,
    ).select(
        id_col,
        "planes",
        "band_id",
        ((F.col(id_col) != F.col("owner_id")) & (F.col("_cos") >= threshold)).alias(
            "verified"
        ),
    )
    return _gate_sweep_tally(
        flags, F.col("verified"), truth, bands_sweep, "false_drop_rate", id_col
    )


def embedding_gate_recall_curve(
    emb: DataFrame,
    bands_sweep: tuple[int, ...] = (1, 2, 4, 8),
    planes_sweep: tuple[int, ...] = (6, 8, 10),
    n_clusters: int = 16,
    dims: int = 64,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall / false-collision sweep for the banded embedding gate on
    the PLANTED 16-cluster mixture — one row per (bands, planes) arm.

    Ground truth: a vector is a TRUE near-dup iff a lower-id vector
    exists in its planted cluster (the ideal gate admits exactly one
    vector per cluster). Per arm:
      recall               = dropped true-dups / true-dups
      false_collision_rate = dropped cluster-firsts / cluster-firsts
    Recall must RISE with bands at fixed planes (OR-construction) and
    false collisions must FALL as planes grow (longer AND within a
    band) — a flat curve means the gate is broken, not that the data is
    unclusterable (same contract as ``ann_recall_curve``).

    FUSED sweep: because plane p's signs depend only on (band, p, d),
    a bucket at q < p planes is the p-plane bucket masked to its low q
    bits, and a bands=k arm uses the first k bands — so ONE incidence
    table at (max bands, max planes) serves every arm. Per planes arm:
    one map-side-combinable firsts agg + one stack-unpivoted verdict
    agg; bands arms are column expressions, not passes. Sweep cost ≈
    len(planes_sweep) aggregations over |V| × max(bands) long rows,
    vs bands×planes full gate runs naively.

    ``sample_mod`` is the 100 TB operating mode: the curve runs on the
    deterministic corpus sample ``id % sample_mod == 0``, which keeps
    the planted mixture's shape while shrinking every arm linearly.
    """
    planted, masked, truth = _gate_sweep_inputs(
        emb, planes_sweep, max(bands_sweep), n_clusters, dims, sample_mod,
        id_col, vec_col,
    )
    firsts = masked.groupBy("planes", "band_id", "mb").agg(
        F.min(id_col).alias("first_id")
    )
    flags = masked.join(firsts, ["planes", "band_id", "mb"]).select(
        id_col,
        "planes",
        "band_id",
        (F.col(id_col) == F.col("first_id")).alias("is_first"),
    )
    return _gate_sweep_tally(
        flags, ~F.col("is_first"), truth, bands_sweep, "false_collision_rate",
        id_col,
    )


def _gate_sweep_inputs(
    emb: DataFrame,
    planes_sweep: tuple[int, ...],
    max_bands: int,
    n_clusters: int,
    dims: int,
    sample_mod: int | None,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared front of the gate recall sweeps: the persisted planted
    table, ONE persisted incidence at (``max_bands``, max planes) masked
    to every planes arm as ``(id, planes, band_id, mb)`` — unioned
    BEFORE aggregating so the whole sweep is one pipeline keyed by
    (planes, band, bucket) instead of a per-arm stage cascade (measured
    7.3s → stage-count-bound on tiny data) — and the truth ``(id,
    is_dup)``: a vector is a true near-dup iff a lower id shares its
    planted cluster."""
    from pyspark.sql import Window

    from flink_helloworld_spark.operators._cache import share

    if sample_mod is not None:
        emb = emb.where(F.col(id_col) % sample_mod == 0)
    planted = share(
        planted_embeddings(
            emb, n_clusters=n_clusters, dims=dims, id_col=id_col, vec_col=vec_col
        )
    )
    inc = share(
        embedding_band_incidence(
            planted, planes=max(planes_sweep), bands=max_bands, dims=dims,
            id_col=id_col, vec_col=vec_col,
        )
    )
    truth = planted.select(
        F.col(id_col),
        (
            F.col(id_col)
            > F.min(id_col).over(Window.partitionBy("cluster_id"))
        ).alias("is_dup"),
    )
    masked = None
    for p in planes_sweep:
        m = inc.select(
            id_col,
            F.lit(p).cast("int").alias("planes"),
            "band_id",
            (F.col("bucket") % (2 ** p)).alias("mb"),
        )
        masked = m if masked is None else masked.unionByName(m)
    return planted, masked, truth


def _gate_sweep_tally(
    flags: DataFrame,
    drop: Column,
    truth: DataFrame,
    bands_sweep: tuple[int, ...],
    rate_name: str,
    id_col: str,
) -> DataFrame:
    """Shared tail of the gate recall sweeps: ``flags`` holds one row
    per (vector, planes arm, band) and ``drop`` says whether that band
    drops the vector. Every bands arm comes from ONE per-(vector,
    planes) agg (dropped_k = any dropping band among the first k),
    stack-unpivoted and tallied per (bands, planes) against ``truth``:
    recall = dropped true-dups / true-dups, ``rate_name`` = dropped
    cluster-firsts / cluster-firsts."""
    per_vec = flags.groupBy(id_col, "planes").agg(
        *[
            F.max(
                F.when(F.col("band_id") < k, drop.cast("int")).otherwise(F.lit(0))
            ).alias(f"_drop_{k}")
            for k in bands_sweep
        ]
    )
    stacked = per_vec.join(truth, id_col).select(
        "planes",
        "is_dup",
        F.expr(
            f"stack({len(bands_sweep)}, "
            + ", ".join(f"CAST({k} AS INT), _drop_{k}" for k in bands_sweep)
            + ") AS (bands, _di)"
        ),
    )
    return (
        stacked.groupBy("bands", "planes")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.col("is_dup").cast("long")).alias("n_true_dup"),
            F.sum(
                (F.col("_di") == 1).cast("long") * F.col("is_dup").cast("long")
            ).alias("n_dropped_dup"),
            F.sum(
                (F.col("_di") == 1).cast("long") * (~F.col("is_dup")).cast("long")
            ).alias("n_dropped_first"),
        )
        .select(
            "bands",
            "planes",
            "n_vectors",
            "n_true_dup",
            "n_dropped_dup",
            "n_dropped_first",
            (
                F.col("n_dropped_dup").cast("double")
                / F.nullif(F.col("n_true_dup").cast("double"), F.lit(0.0))
            ).alias("recall"),
            (
                F.col("n_dropped_first").cast("double")
                / F.nullif(
                    (F.col("n_vectors") - F.col("n_true_dup")).cast("double"),
                    F.lit(0.0),
                )
            ).alias(rate_name),
        )
    )


_TARGET_CELL = 64


def _auto_centroids(emb: DataFrame) -> int:
    """Cell-size-capped centroid count: C = max(16, ⌈N/64⌉), i.e. cells
    hold ~64 vectors regardless of corpus size, so within-cell scan work
    (quadratic in cell size) stays LINEAR in N. The classic C≈√N rule
    balances brute-force assignment (N·C) against cell scans (N²·p/C);
    measured here (SCALE_NOTES), √N still left 12.8× runtime at 10× data
    on a duplicate-dense corpus, while the cell cap gives 1.9×. The
    trade: assignment cost grows as N·C = N²/64 — fine while the N×C
    broadcast product is codegen-cheap; a 100 TB deployment would swap
    the flat coarse quantizer for a hierarchical one (coarse-assign to
    √C super-cells first), which keeps this cell-cap contract and makes
    assignment N·√C. ⌈N/64⌉ matches the oracle's
    CEIL(COUNT(*) / 64.0) exactly."""
    import math

    return max(16, math.ceil(emb.count() / _TARGET_CELL))


def _assign_cells_blas(
    v: DataFrame, cent: DataFrame, n_probe: int, round_dp: int = 6
) -> DataFrame:
    """Coarse-quantizer assignment, Arrow/BLAS path: for every vector the
    ``n_probe`` nearest centroids by ROUNDED cosine (ties → lowest
    centroid id), as ``(id, centroid_id, _crn)``.

    The JVM alternative — an N×C cross join of ``zip_with`` dot products
    — evaluates the per-element lambdas interpretively and dominated the
    whole IVF runtime at 10× scale (SCALE_NOTES: 39.5s of 47s). Here the
    centroid table (C rows — the index metadata, same bounded-collect
    contract as the PQ ADC table) is collected, L2-normalized once and
    broadcast; each Arrow batch then scores against ALL centroids in one
    BLAS matrix product. Ranking on the ROUNDED value makes assignment
    independent of float summation order, so the DuckDB oracle replays
    it exactly (the sharded-BLAS kernel's contract).

    At 100 TB: C from the cell-size rule grows with N — beyond ~1e6
    centroids swap the flat scan for a hierarchical quantizer
    (super-cells first); the output contract here is unchanged by that.
    """
    import pandas as pd

    cids, cmat, _ = _collect_table(
        cent.select("centroid_id", "cvec"), "centroid table"
    )
    spark = v.sparkSession
    b_cids = spark.sparkContext.broadcast(cids)
    b_cmat = spark.sparkContext.broadcast(_unit_rows(cmat))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            q = _unit_rows(list(pdf["vec"]))
            top = _nearest(q, b_cmat.value, n_probe, round_dp)
            n = top.shape[1]
            yield pd.DataFrame(
                {
                    "id": np.repeat(ids, n),
                    "centroid_id": b_cids.value[top].ravel(),
                    "_crn": np.tile(np.arange(1, n + 1), len(ids)),
                }
            )

    return v.select("id", "vec").mapInPandas(
        assign, "id long, centroid_id long, _crn int"
    )


def ivf_cosine_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second ANN scale path
    next to hyperplane LSH.

    Index build: ``n_centroids`` vectors are chosen deterministically as
    the lowest md5(vec_id) ranks (a reproducible uniform sample — no
    fitted k-means state, so the oracle can replay it); every vector is
    assigned to its nearest centroid by ROUNDED cosine (ties → lowest
    centroid id) in one BLAS pass (``_assign_cells_blas``). Queries
    probe their ``n_probe`` nearest centroids' cells; scoring runs
    per-cell as one Arrow-batched matrix product (the
    ``cosine_topk_vectorized_sharded`` kernel shape, with IVF cells as
    the shards) — the only shuffle is the cell-keyed hash exchange.

    Sizing: ``n_centroids=None`` (default) applies the cell-size cap
    C = max(16, ⌈N/64⌉) from ``_auto_centroids`` so per-cell work stays
    linear in N; SCALE_NOTES.md measures fixed-C=16 (41× at 10×), √N,
    and this rule.

    Determinism contract (oracle-exact): both assignment and final
    ranking order by cosine ROUNDED to ``round_dp`` with id tiebreaks,
    so BLAS vs sequential summation order cannot flip near-ties; the
    DuckDB oracle replays the identical construction."""
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_centroids is None:
        n_centroids = _auto_centroids(emb)
    return _ivf_scan(v, _md5_centroids(v, n_centroids), k, n_probe)


def _ivf_scan(
    v: DataFrame, cent: DataFrame, k: int, n_probe: int, round_dp: int = 6
) -> DataFrame:
    """The IVF probe + per-cell BLAS scan shared by every coarse
    quantizer (md5-seed `ivf_cosine_topk`, k-means-refined
    `ivfk_cosine_topk`): rounded-cosine assignment (`_assign_cells_blas`)
    feeds both cell membership (_crn == 1) and probing (_crn <= n_probe),
    persisted once; each cell scores as one Arrow/BLAS matrix product."""
    from ._cache import share

    # assignment feeds BOTH roles of the per-cell scan — persist it once
    ranked = share(
        _assign_cells_blas(v, cent, n_probe, round_dp).join(v, on="id")
    )
    return _rank_topk(_scan_cells(ranked, round_dp), k)


def _scan_cells(
    ranked: DataFrame, round_dp: int = 6, probe_rank: bool = False
) -> DataFrame:
    """Per-cell scan of routed rows ``(id, centroid_id, _crn, vec)``,
    grouped by cell: every row probes its cell, the ``_crn == 1`` rows
    are its members, and ``_score_pairs`` scores them in one BLAS
    product. Emits ``(query_id, neighbor_id, cosine)``, plus the probe
    rank as ``probe_rank`` when asked (the fused recall sweep masks
    arms by it)."""
    import pandas as pd

    schema = "query_id long, neighbor_id long, cosine double"
    if probe_rank:
        schema += ", probe_rank int"

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        crn = pdf["_crn"].to_numpy()
        member = crn == 1
        m_ids = ids[member]
        qi, mi, cos = _score_pairs(ids, mat, m_ids, mat[member], round_dp)
        out = {"query_id": ids[qi], "neighbor_id": m_ids[mi], "cosine": cos}
        if probe_rank:
            out["probe_rank"] = crn[qi].astype(np.int32)
        return pd.DataFrame(out)

    return ranked.groupBy("centroid_id").applyInPandas(per_cell, schema)


def ivfk_cosine_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_iter: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with a LLOYD-REFINED coarse quantizer: identical probe/scan
    contract to ``ivf_cosine_topk`` but the centroid table is the final
    output of ``clustering.kmeans_centroids`` (the same seeds, then
    ``n_iter`` Lloyd steps) instead of the raw md5-rank sample — the
    production index-build: on clustered data, refined centroids drift
    toward the cluster cores, so fewer boundary vectors flip cells and
    recall rises at EQUAL n_probe. Measured on the planted mixture
    (SCALE_NOTES r6): 0.733 → 0.748 @ n_probe=1 and 0.926 → 0.951 @
    n_probe=2 with the default 2 Lloyd steps (plateaus ~0.757/0.953 by
    8 steps — the remaining misses come from the cell-size rule putting
    ~2.5 cells on every true cluster, which refinement cannot undo;
    n_probe is the dial for those).

    Oracle: `_kmeans_ctes` (the embedding_kmeans replay) feeds the IVF
    scoring CTEs — both halves reuse oracles that already gate their
    standalone queries. Scale shape: the refinement adds n_iter bounded
    centroid collects (Lloyd's inherent sync points, dim-sized rows);
    probe + scan are `_ivf_scan`, unchanged."""
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_centroids is None:
        n_centroids = _auto_centroids(emb)
    from flink_helloworld_spark.operators.clustering import kmeans_centroids

    cent = kmeans_centroids(
        emb, n_centroids, n_iter, id_col=id_col, vec_col=vec_col
    ).select(F.col("cid").alias("centroid_id"), F.col("cvec"))
    return _ivf_scan(v, cent, k, n_probe)


def _pq_codes_dtab_blas(
    v: DataFrame, cbook: DataFrame, m: int, sub: int, ksub: int
) -> DataFrame:
    """PQ quantization + per-vector ADC table in ONE Arrow/BLAS pass,
    replaying the exact contracts of the column-expression form: per
    subspace, the squared L2 to each codebook entry; codes pick the
    packed minimum ``round(sqd·1e6)·ksub + cid`` (micro-unit ties →
    lowest code id); the dtab is the raw distances laid out
    ``[subspace-major, cid asc]`` — exactly what the element_at ADC scan
    indexes. The ≤ksub-row codebook is collected and broadcast (bounded
    metadata, like the centroid table); this removes two N×ksub cross
    joins of interpreted zip_with folds.

    Returns ``(id, code_0..code_{m-1}, dtab)``.
    """
    import pandas as pd

    cids, cmat, _ = _collect_table(cbook.select("cid", "cbvec"), "PQ codebook")
    spark = v.sparkSession
    bc = spark.sparkContext.broadcast((cids, cmat))

    schema = ", ".join(
        ["id long"] + [f"code_{j} int" for j in range(m)] + ["dtab array<double>"]
    )

    def fn(batches):
        b_cids, b_cmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            q = np.array(list(pdf["vec"]), dtype=np.float64)
            out = {"id": ids}
            dtabs = []
            for j in range(m):
                qs = q[:, j * sub : (j + 1) * sub]
                cs = b_cmat[:, j * sub : (j + 1) * sub]
                diff = qs[:, None, :] - cs[None, :, :]
                sq = np.einsum("ijk,ijk->ij", diff, diff)
                packed = (
                    pack_scaled_int(sq) * ksub + b_cids
                )
                out[f"code_{j}"] = (packed.min(axis=1) % ksub).astype(np.int32)
                dtabs.append(sq)  # cid-ascending within each subspace
            out["dtab"] = list(np.concatenate(dtabs, axis=1))
            yield pd.DataFrame(out)

    return v.select("id", "vec").mapInPandas(fn, schema)


def ivfpq_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 16,
    dims: int = 64,
    rerank: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """IVF+PQ approximate search — the full two-level ANN pipeline that
    pairs ``ivf_cosine_topk`` (coarse cells) with ``pq_assign`` (code
    compression): probe cells, scan COMPRESSED codes via asymmetric
    distance computation (ADC), then exact-re-rank only the survivors.

    Why this is the 100 TB shape: after the cell join, the scanned side
    carries ``m`` small int codes (here 4 × 4 bits of information)
    instead of ``dims`` doubles — the shuffle and the distance scan touch
    ~64× less data than raw-vector IVF. Full vectors are re-fetched for
    the final exact cosine only for the ≤``rerank`` ADC survivors per
    query (a semi-join back to the vector table), which is the standard
    FAISS IVFPQ + refine topology.

    Determinism contract (oracle-exact): codebooks/centroids are md5-rank
    samples (seeds ``id`` and ``pq:id``); ADC distances are fixed-order
    sums of sequential per-subspace folds rounded to integer micro-units
    before ranking; the final cosine is rounded to ``round_dp`` and
    ranked on the rounded value with a neighbor-id tiebreak. Codes
    quantize RAW vectors (not residuals) so the oracle can replay the
    codebook without fitted state.
    """
    from pyspark.sql import Window

    from ._cache import share

    sub = dims // m
    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("vnorm"),
    )

    # --- coarse quantizer: BLAS assignment, same construction/contract
    # as ivf_cosine_topk (rounded-cosine ranking, md5-rank centroids) ---
    if n_centroids is None:
        n_centroids = _auto_centroids(emb)
    cent = _md5_centroids(v, n_centroids)
    # assignment feeds cells AND probes — persist it once
    ranked = share(_assign_cells_blas(v, cent, n_probe, round_dp))
    cells = ranked.where(F.col("_crn") == 1).select("id", "centroid_id")
    probes = ranked.select(F.col("id").alias("query_id"), "centroid_id")

    # --- PQ codebook (seed 'pq:') + per-vector codes, as in pq_assign ---
    cbook = _md5_sample(v, ksub, "pq:").select(
        (F.col("_rn") - 1).alias("cid"), F.col("vec").alias("cbvec")
    )

    # codes + ADC table fused in one BLAS stage (same packed-min and
    # layout contracts as the former pair of N×ksub zip_with cross joins)
    codes_dtab = share(_pq_codes_dtab_blas(v, cbook, m, sub, ksub))
    codes = codes_dtab.select("id", *[f"code_{j}" for j in range(m)])
    dtab = codes_dtab.select("id", "dtab")

    # --- ADC scan: probes × coded cells; neighbor side is codes only ---
    coded_cells = cells.join(codes, on="id").select(
        F.col("id").alias("neighbor_id"), "centroid_id", *[f"code_{j}" for j in range(m)]
    )
    cand = (
        probes.join(dtab, probes.query_id == dtab.id)
        .drop("id")
        .join(coded_cells, on="centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    adist = F.element_at(F.col("dtab"), F.col("code_0") + 1)
    for j in range(1, m):
        adist = adist + F.element_at(
            F.col("dtab"), F.col(f"code_{j}") + F.lit(j * ksub) + 1
        )
    cand = cand.select(
        "query_id",
        "neighbor_id",
        F.round(adist * 1_000_000.0).cast("long").alias("adist_micro"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adist_micro").asc(), F.col("neighbor_id").asc()
    )
    survivors = (
        cand.withColumn("_arn", F.row_number().over(w_adc))
        .where(F.col("_arn") <= rerank)
        .select("query_id", "neighbor_id")
    )

    # --- exact re-rank: fetch full vectors for survivors only ---
    qry = v.select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("vnorm").alias("qnorm"),
    )
    nbr = v.select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        F.col("vnorm").alias("nnorm"),
    )
    rr = (
        survivors.join(nbr, on="neighbor_id")
        .join(qry, on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("nvec"))
                / F.nullif(F.col("qnorm") * F.col("nnorm"), F.lit(0.0)),
                round_dp,
            ).alias("cosine"),
        )
    )
    return _rank_topk(rr, k)


def lsh_cosine_topk(
    emb: DataFrame,
    k: int = 5,
    planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors: score only same-bucket pairs.

    At scale the self-join key is the bucket id (2^planes buckets), so
    compared pairs drop by ~2^planes vs brute force; recall is tunable
    via `planes` (fewer planes → bigger buckets → higher recall)."""
    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket(F.col(vec_col), planes, dims).alias("bucket"),
    )
    pairs = (
        v.alias("q")
        .join(
            v.alias("c"),
            (F.col("q.bucket") == F.col("c.bucket")) & (F.col("q.id") != F.col("c.id")),
        )
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("neighbor_id"),
            _cosine(F.col("q.vec"), F.col("c.vec")).alias("cosine"),
        )
    )
    return _rank_topk(pairs, k)


def pq_assign(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization code assignment — the compression half of
    the IVF+PQ index that makes 100 TB-scale ANN memory-feasible: each
    vector becomes ``m`` sub-codes (here 4×log2(16)=16 bits instead of
    64 floats).

    Codebooks are deterministic md5-rank samples (same scheme as
    ``ivf_cosine_topk`` — reproducible without fitted k-means state, so
    the oracle replays them): centroid c's subvector j is the codebook
    entry (j, c). Assignment = argmin squared-L2 per subspace, ties to
    the lowest centroid id; the argmin is computed as an integer MIN of
    ``round(dist·1e6)·ksub + cid`` so no float ordering ever crosses an
    engine boundary.

    Scale shape: one Arrow/BLAS pass against the broadcast ≤ksub-row
    codebook (the shared ``_pq_codes_dtab_blas`` kernel) — no shuffle of
    the embedding column beyond its own scan.
    """
    sub = dims // m
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    cent = _md5_sample(v, ksub).select(
        (F.col("_rn") - 1).alias("cid"), F.col("vec").alias("cbvec")
    )
    # same BLAS kernel as ivfpq's code stage (identical packed-min
    # contract); the dtab column is simply dropped here
    return _pq_codes_dtab_blas(v, cent, m, sub, ksub).select(
        F.col("id").alias(id_col), *[f"code_{j}" for j in range(m)]
    )


def semantic_decontaminate(
    emb: DataFrame,
    threshold: float = 0.95,
    n_benchmark: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Embedding-space decontamination — the semantic complement of the
    n-gram ``ngram_decontaminate``: flag every corpus vector whose
    cosine against ANY held-out benchmark vector reaches ``threshold``
    (an exact-duplicate eval row embeds at cosine ≈ 1 even after token
    edits that defeat n-gram matching).

    The benchmark stands in as a deterministic md5-rank sample (seed
    ``bench:``) so the oracle can replay it; in production it would be
    the real eval-set embedding table — same shape: SMALL (thousands),
    broadcast whole. One Arrow/BLAS pass scores each corpus batch
    against the full benchmark matrix; cosines are rounded to
    ``round_dp`` before the threshold test (BLAS-vs-sequential parity).

    Returns ``(vec_id, max_bench_cosine, is_contaminated)`` for every
    corpus vector NOT itself in the benchmark sample.
    """
    import pandas as pd

    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    bench = _md5_sample(v, n_benchmark, "bench:").select("id", "vec")
    # benchmark = small broadcast metadata
    ids, bmat, _ = _collect_table(bench, "benchmark table")
    bc = emb.sparkSession.sparkContext.broadcast((set(ids.tolist()), _unit_rows(bmat)))

    def score(batches):
        bench_ids, bench_mat = bc.value
        for pdf in batches:
            mask = [i not in bench_ids for i in pdf["id"]]
            pdf = pdf[mask]
            if len(pdf) == 0:
                continue
            q = _unit_rows(list(pdf["vec"]))
            mx = round_half_away(q @ bench_mat.T, round_dp).max(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf["id"].to_numpy(dtype=np.int64),
                    "max_bench_cosine": mx,
                    "is_contaminated": mx >= threshold,
                }
            )

    return v.mapInPandas(
        score, f"{id_col} long, max_bench_cosine double, is_contaminated boolean"
    )


def ivf2_cosine_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 2,
    n_super_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """TWO-LEVEL (hierarchical) IVF top-k — the shape ``ivf_cosine_topk``'s
    docstring promises for extreme scale, implemented: when the cell-cap
    rule makes C = N/64 large, interpose S = ⌈√C⌉ super-centroids:

      1. super-centroids = md5-rank sample of the centroids (seed
         ``super:``);
      2. centroids assign to their nearest super-cell;
      3. vectors probe their ``n_super_probe`` nearest super-cells;
      4. among the centroids inside those super-cells, each vector
         keeps its ``n_probe`` nearest cells;
      5. per cell, the same grouped-BLAS scan as flat IVF scores
         members against probing queries → global top-k.

    Steps 2-4 run against the FROZEN quantizer: the driver collects the
    full C-row centroid table and the S-row super table
    (``_frozen_quantizer``, the same tables ``collect_ivf_quantizer``
    returns for an index), broadcasts them, and routes each vector in
    one ``mapInPandas``. That costs O(C·dim) driver memory; no size cap
    is asserted on it.

    Every ranking orders by cosine ROUNDED to ``round_dp`` with id
    tiebreaks — the engine's BLAS/oracle parity contract — and the whole
    two-level construction is deterministic, so the DuckDB oracle
    replays it exactly. Recall is the standard hierarchical trade: a
    vector only reaches cells inside its probed super-cells.
    """
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_centroids is None:
        n_centroids = _auto_centroids(emb)
    cent = _md5_centroids(v, n_centroids)
    sup = _md5_centroids(
        cent.select(F.col("centroid_id").alias("id"), F.col("cvec").alias("vec")),
        _n_super(n_centroids),
        "super:",
    )
    return _ivf2_scan(v, cent, sup, k, n_probe, n_super_probe, round_dp)


def _n_super(n_centroids: int) -> int:
    """Super-cell count of the two-level IVF: S = max(4, ⌈√C⌉)."""
    import math

    return max(4, math.ceil(math.sqrt(n_centroids)))


def _train_two_level(
    v: DataFrame, n_centroids: int, n_iter: int, train_floor: int = 2048
) -> tuple[DataFrame, DataFrame]:
    """Two-level Lloyd quantizer trained on a sample: cells are
    ``kmeans_centroids`` over the md5-rank sample (seed 'kmt:') of
    max(``train_floor``, 8·C) rows of ``v`` = ``(id, vec)``, supers are
    ``kmeans_centroids`` over the cells. Returns ``(cent, sup)``, both
    ``(centroid_id, cvec)`` and persisted."""
    from flink_helloworld_spark.operators.clustering import kmeans_centroids

    from ._cache import share

    # share(): every Lloyd iteration re-scans its input (seed collect +
    # assignment), and the trainset is an orderBy+limit over the corpus
    # — uncached it re-ran per iteration (profiled 3× at 10× volume)
    trainset = share(
        _md5_sample(v, max(train_floor, 8 * n_centroids), "kmt:").select("id", "vec")
    )
    # share(): the refined centroid table's lineage is a Lloyd pass over
    # the sample; the scan consumes it from FOUR places (super-level
    # kmeans collects, cent_home assignment, the member side, and sup's
    # own lineage) — uncached it re-ran per consumer, 16.6s -> ~3s
    cent = share(
        kmeans_centroids(
            trainset, n_centroids, n_iter, id_col="id", vec_col="vec"
        ).select(F.col("cid").alias("centroid_id"), F.col("cvec"))
    )
    sup = share(
        kmeans_centroids(
            cent, _n_super(n_centroids), n_iter, id_col="centroid_id", vec_col="cvec"
        ).select(F.col("cid").alias("centroid_id"), F.col("cvec"))
    )
    return cent, sup


def ivf2k_cosine_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_iter: int = 2,
    n_probe: int = 2,
    n_super_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Two-level IVF with LLOYD-REFINED quantizers at BOTH levels
    (VERDICT r6 item 5): ``ivf2_cosine_topk``'s hierarchical shape and
    frozen-quantizer routing, but cells come from
    ``clustering.kmeans_centroids`` over the corpus and super-cells from
    ``kmeans_centroids`` over the CENTROID table (each: md5-rank seeds
    'km:', then ``n_iter`` Lloyd steps), instead of raw md5 samples.
    The production extreme-scale index build: refinement drifts both
    levels toward the data's cluster cores, so fewer boundary vectors
    lose their true cell at equal (n_super_probe, n_probe) — measured
    on the planted mixture in SCALE_NOTES r7.

    TRAIN-ON-SAMPLE (the FAISS quantizer-training doctrine, and what
    keeps the refinement off ivf2's scale path): Lloyd runs over a
    deterministic md5-rank sample of ``max(train_floor, 8·C)`` corpus
    rows (seed 'kmt:'), NOT the full corpus — a flat refinement pass
    costs N·C distance work per iteration (the N²/64 swap point
    ``_auto_centroids`` documents), which measured 2.7× at 10× volume
    vs ivf2's 1.5×; the sampled pass costs 8C² ≪ N·C and is constant
    once the floor binds. At test scale the sample covers the whole
    table, so recall gains are those of full refinement; at corpus
    scale ~8 training points per centroid is the standard
    quality/cost point.

    Probe/scan tail is ``_ivf2_scan``, byte-identical to ivf2's; the
    refinement adds 2×n_iter bounded centroid collects (Lloyd's
    inherent sync points — the super-level ones are √C-row). Oracle:
    two chained `_kmeans_ctes` replays (sample → cells, cells → supers)
    feeding the ivf2 scoring tail.
    """
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_centroids is None:
        n_centroids = _auto_centroids(emb)
    cent, sup = _train_two_level(v, n_centroids, n_iter)
    return _ivf2_scan(v, cent, sup, k, n_probe, n_super_probe, round_dp)


def _route_cells(
    v: DataFrame,
    cent_home: DataFrame,
    sup: DataFrame,
    n_super_probe: int,
    n_probe: int,
    round_dp: int = 6,
) -> DataFrame:
    """Distributed reference kernel for two-level cell routing: each
    vector's ``n_probe`` nearest cells among the cells homed in its
    ``n_super_probe`` nearest super-cells, as ``(id, centroid_id,
    _crn)``. No production path calls it: live routing runs against
    the frozen quantizer (``route_frozen_np`` via ``_ivf2_scan``,
    ``build_ivf_index``, ``ivf_index_append`` and the indexed probes).
    The frozen-routing parity tests replay this pipeline and require
    byte-identical cells.

    ``cent_home`` is ``(cent_id, super_id, cvec)`` — the C-row centroid
    table stays DISTRIBUTED; only the ≤√C-row ``sup`` table is ever
    collected (inside ``_assign_cells_blas``). The vector→cell scoring
    runs as ONE grouped-BLAS stage keyed by super-cell; every ranking
    orders by cosine ROUNDED to ``round_dp`` with centroid-id tiebreaks
    (the engine's BLAS/oracle parity contract)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    v_super = _assign_cells_blas(
        v, sup, n_probe=n_super_probe, round_dp=round_dp
    ).select("id", F.col("centroid_id").alias("super_id"))
    q_side = v_super.join(v, "id").select(
        "super_id", F.lit("Q").alias("role"), "id", "vec"
    )
    i_side = cent_home.select(
        "super_id",
        F.lit("I").alias("role"),
        F.col("cent_id").alias("id"),
        F.col("cvec").alias("vec"),
    )
    mixed = q_side.unionByName(i_side)

    pair_schema = StructType(
        [
            StructField("id", LongType()),
            StructField("centroid_id", LongType()),
            StructField("csim", DoubleType()),
        ]
    )

    def per_super(pdf: pd.DataFrame) -> pd.DataFrame:
        is_i = (pdf["role"] == "I").to_numpy()
        if not is_i.any() or is_i.all():
            return pd.DataFrame({f.name: [] for f in pair_schema.fields})
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat_n = _unit_rows(list(pdf["vec"]))
        q_ids, q_mat = ids[~is_i], mat_n[~is_i]
        c_ids, c_mat = ids[is_i], mat_n[is_i]
        sims = round_half_away(q_mat @ c_mat.T, round_dp)
        qi, ci = np.indices(sims.shape)
        return pd.DataFrame(
            {
                "id": q_ids[qi.ravel()],
                "centroid_id": c_ids[ci.ravel()],
                "csim": sims.ravel(),
            }
        )

    cand_cells = mixed.groupBy("super_id").applyInPandas(per_super, pair_schema)
    w_cell = Window.partitionBy("id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    return (
        cand_cells.withColumn("_crn", F.row_number().over(w_cell))
        .where(F.col("_crn") <= n_probe)
        .select("id", "centroid_id", "_crn")
    )


def _ivf2_scan(
    v: DataFrame,
    cent: DataFrame,
    sup: DataFrame,
    k: int,
    n_probe: int,
    n_super_probe: int,
    round_dp: int = 6,
) -> DataFrame:
    """Stages (2)-(5) of the two-level IVF, shared by every quantizer
    build (md5-seed ``ivf2_cosine_topk``, Lloyd-refined
    ``ivf2k_cosine_topk``): centroid→super home assignment, vector→super
    probing and the candidate-cell choice, all against the collected
    frozen quantizer (``_frozen_quantizer``), then the per-cell scan."""
    # (2)-(4) as ONE frozen-quantizer pass (r12, guide §2.4/§8): the
    # cell→super home assignment runs driver-side over the collected
    # bounded quantizer (the same C-row collect `_assign_cells_blas`
    # performed), and each vector's n_probe cells emit from a single
    # mapInPandas — no assignment exchange, no rank window, no vector
    # join-back. Output contract identical to the old
    # `_route_cells(...).join(v)` (parity test-pinned).
    quant = _frozen_quantizer(cent, sup, round_dp)
    ranked = _route_probes_frozen(v, quant, n_super_probe, n_probe, round_dp)

    # (5) per-cell scan — identical to flat IVF's scoring stage
    return _rank_topk(_scan_cells(ranked, round_dp), k)


def build_ivf_index(
    emb: DataFrame,
    n_centroids: int | None = None,
    n_iter: int = 2,
    n_super_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_floor: int = 2048,
    round_dp: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """ONE-TIME ANN index build, split from the query path (VERDICT r7
    item 1): every IVF-family query previously re-trained its quantizer
    inside the query — correct and sample-bounded, but at 100 TB the
    index is built once, persisted to the lake, and queried many times
    (the FAISS production shape, and the same reusable-artifact pattern
    ``dedup.incremental_near_dedup`` ships for its LSH index). This is
    the build half; ``ivf_index_query`` is the pure scan half.

    Construction is ``ivf2k_cosine_topk``'s two-level Lloyd-refined
    quantizer (``_train_two_level``: train-on-sample 'kmt:' seed, max(
    ``train_floor``, 8·C) rows; cells over the sample, supers over the
    cells), so
    ``ivf_index_query(index, postings, emb)`` at equal probes returns
    EXACTLY ``ivf2k_cosine_topk(emb)`` — parity-pinned, which is also
    why the recall table is unchanged at equal probes by construction.

    Returns ``(index, postings)`` — both plain DataFrames, persistable
    to parquet and reloadable without loss:
      * ``index``: ``(level, centroid_id, super_id, cvec)`` — level 2 =
        super-centroids (``super_id`` null), level 1 = cells with their
        HOME super (stored, so the query path never re-assigns cells);
      * ``postings``: ``(centroid_id, member_id, mvec)`` — the inverted
        lists: every corpus vector in its single nearest cell, routed
        hierarchically through its ``n_super_probe`` nearest supers
        (rank-1 of the same routing the fused scan uses).

    Scale shape: two sample-bounded Lloyd trainings (8C² ≪ N·C), one
    ``mapInPandas`` routing pass over the corpus. The driver collects
    the full quantizer — C cells + √C supers (``_frozen_quantizer``),
    O(C·dim) memory, capped by ``_COLLECT_MAX_VALUES`` per table —
    and broadcasts it. The postings carry the member VECTORS —
    at 100 TB swap ``mvec`` for SQ/PQ codes (``sq_quantize`` /
    ``_pq_codes_dtab_blas`` are the in-repo encoders) without touching
    the routing."""
    from ._cache import share

    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_centroids is None:
        n_centroids = _auto_centroids(emb)
    cent, sup = _train_two_level(v, n_centroids, n_iter, train_floor)
    # Frozen-quantizer routing (r12, guide §2.4/§8): the quantizer is
    # bounded index metadata (C cells + ceil(sqrt C) supers — the very
    # collect `_assign_cells_blas` already performs on the centroid
    # table), so cell home-supers compute driver-side with the
    # identical stable-argsort BLAS, and member routing runs as ONE
    # mapInPandas pass against the broadcast quantizer instead of the
    # assign → exchange → rank window → join-back pipeline.
    quant = _frozen_quantizer(cent, sup, round_dp)
    spark = emb.sparkSession
    homes = spark.createDataFrame(
        [
            (int(c), int(s))
            for c, s in zip(quant["cell_ids"], quant["cell_super"])
        ],
        "cent_id long, super_id long",
    )
    cent_home = homes.join(
        cent.select(F.col("centroid_id").alias("cent_id"), "cvec"), "cent_id"
    )
    index = sup.select(
        F.lit(2).alias("level"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.lit(None).cast("long").alias("super_id"),
        "cvec",
    ).unionByName(
        cent_home.select(
            F.lit(1).alias("level"),
            F.col("cent_id").cast("long").alias("centroid_id"),
            F.col("super_id").cast("long").alias("super_id"),
            "cvec",
        )
    )
    # the routed posting table is the one build output every consumer
    # rescans (delete/compact reference it ~12x in one composite plan)
    postings = share(_route_frozen_postings(v, quant, n_super_probe, round_dp))
    return index, postings


def ivf_index_append(
    index: DataFrame,
    postings: DataFrame,
    new_emb: DataFrame,
    n_super_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """INCREMENTAL index update — the FAISS ``add()`` path: route new
    vectors through the EXISTING quantizer (the persisted artifact's
    supers + cells, untouched) into posting lists, with NO retraining.
    Returns the grown postings table (old ∪ new); the ``index``
    DataFrame is reused as-is. This is how a 100 TB deployment absorbs
    a day's ingest between index rebuilds: routing is one grouped-BLAS
    pass over only the NEW rows, per-row independent — so appending in
    any batch order equals routing everything at once (test-pinned),
    and quality drifts only as far as the data distribution drifts
    from the trained quantizer (rebuild cadence is the dial).

    Same artifact pattern as ``dedup.incremental_near_dedup``'s
    reusable LSH index, applied to the vector side."""
    v = new_emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # frozen-quantizer routing (r12): one mapInPandas pass against the
    # collected artifact quantizer — the exact kernel the streaming
    # ingest runs, whose byte-parity with the old batch `_route_cells`
    # path is test-pinned (test_route_frozen_np_matches_batch_append_
    # routing); zero exchanges for the new members' payload.
    quant = collect_ivf_quantizer(index)
    new_posts = _route_frozen_postings(v, quant, n_super_probe, round_dp)
    return postings.unionByName(new_posts)


def ivf_index_delete(
    postings: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Index DELETION — the FAISS ``remove_ids()`` analog for the
    persisted posting artifact, lake-style (VERDICT r9 item 4): a
    maintained index needs removals (dedup retractions, GDPR deletes)
    without a rebuild. Deletes are TOMBSTONE rows appended to the
    posting table — same schema, ``mvec IS NULL`` marks the tombstone
    for its ``(centroid_id, member_id)`` — so the artifact stays one
    plain bucketed parquet table (the Iceberg position-delete /
    merge-on-read shape) and every downstream op keeps composing.

    Locating each member's cell is ONE pass over the posting table (a
    left-semi join against the delta-sized delete set — exactly the
    scan FAISS ``remove_ids`` makes over its inverted lists); the
    tombstone rows land in the SAME ``centroid_id`` bucket as the rows
    they kill, which is what makes both the merge-on-read view and the
    touched-bucket compaction bucket-local.

    Contract: a tombstone DOMINATES every posting row for its
    ``(centroid_id, member_id)`` — re-adding a deleted member requires
    compacting first (the artifact carries no version column; keeping
    it that way keeps append/query/stream-ingest byte-compatible).
    Deleting an absent id is a no-op (no posting row → no tombstone);
    deleting twice adds no second tombstone (tombstones derive from
    the ``live_postings`` view, which already excludes dominated
    rows)."""
    mvec_t = postings.schema["mvec"].dataType
    ids = delete_ids.select(
        F.col(id_col).cast("long").alias("member_id")
    ).distinct()
    tombs = (
        live_postings(postings)
        .join(ids, "member_id", "left_semi")
        .select(
            "centroid_id",
            "member_id",
            F.lit(None).cast(mvec_t).alias("mvec"),
        )
    )
    return postings.unionByName(tombs)


def live_postings(postings: DataFrame) -> DataFrame:
    """MERGE-ON-READ view of a tombstoned posting artifact: the live
    rows with every tombstoned ``(centroid_id, member_id)`` removed —
    what ``ivf_index_query`` scans between compactions (query parity
    with the compacted artifact is test-pinned).

    Scale shape: the tombstone side is DELTA-sized (deletes since the
    last compaction), so the anti-join broadcasts it and the posting
    side never crosses an exchange; ``centroid_id`` leads the join key,
    so a bucketed posting table also satisfies the clustering in-place
    (the ``cogroup`` scan's distribution argument)."""
    tomb = postings.where(F.col("mvec").isNull()).select(
        "centroid_id", "member_id"
    )
    return postings.where(F.col("mvec").isNotNull()).join(
        F.broadcast(tomb), ["centroid_id", "member_id"], "left_anti"
    )


def ivf_index_compact(postings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """MERGE-ON-WRITE: fold tombstones into the posting artifact,
    touching ONLY the cells that hold one (the KeyedUpsertSink
    touched-shards contract, ``streaming/sinks.py``, applied to the
    index). Returns ``(compacted, touched)``: the clean posting table
    (no tombstones, dominated rows gone) and the touched
    ``centroid_id`` list (audit/manifest hook; also what the store-
    level ``ivf_store_compact`` rewrites).

    Rows in UNTOUCHED cells pass through with zero resolution work —
    the touched-cell set is tombstone-cardinality-bounded, so both the
    pass-through anti-join and the touched-subset semi-join broadcast
    it and the posting table never shuffles. Query-over-compacted
    equals query-over-``live_postings`` equals query-over-freshly-
    routed-remainder (routing is per-row independent, so removing a
    member's posting IS the index built without it — test-pinned).
    """
    touched = (
        postings.where(F.col("mvec").isNull())
        .select("centroid_id")
        .distinct()
    )
    untouched_rows = postings.join(
        F.broadcast(touched), "centroid_id", "left_anti"
    )
    touched_rows = postings.join(
        F.broadcast(touched), "centroid_id", "left_semi"
    )
    return untouched_rows.unionByName(live_postings(touched_rows)), touched


def ivf_index_upsert(
    index: DataFrame,
    postings: DataFrame,
    new_emb: DataFrame,
    n_super_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """UPSERT — refresh or (re-)add members in one step: because a
    tombstone DOMINATES every posting row for its key (the
    ``ivf_index_delete`` contract), a bare append of an updated vector
    would be killed by its own member's old tombstone, and an old live
    row would shadow nothing but still double the member. So upsert =
    delete the incoming ids (tombstones into their cells), compact —
    which touches ONLY the incoming members' cells (and opportunistically
    folds any older tombstones living there) — then append the fresh
    routing through the frozen quantizer. Exactly one live row per
    incoming member afterwards; untouched members never move; a
    previously deleted member is revived with its new vector.

    Composition of the three existing seams — same plan shapes, same
    broadcast-only resolution, nothing new to scale-audit."""
    ids = new_emb.select(id_col)
    cleaned, _ = ivf_index_compact(
        ivf_index_delete(postings, ids, id_col=id_col)
    )
    return ivf_index_append(
        index, cleaned, new_emb, n_super_probe, id_col, vec_col, round_dp
    )


def ivf_store_write(
    postings: DataFrame, path: str, num_buckets: int = 16
) -> None:
    """Persist a posting table (or a tombstone delta from
    ``ivf_index_delete`` — pass ``mode='append'`` semantics by calling
    again) as a ``cell_bucket``-partitioned parquet store:
    ``cell_bucket = pmod(centroid_id, num_buckets)`` directories, the
    on-disk layout whose partition pruning makes ``ivf_store_compact``
    read and rewrite ONLY touched buckets. First write creates, later
    writes append (tombstones/new postings)."""
    postings.withColumn(
        "cell_bucket", F.pmod(F.col("centroid_id"), F.lit(int(num_buckets)))
    ).write.partitionBy("cell_bucket").mode("append").parquet(path)


def ivf_store_compact(spark, path: str) -> list[int]:
    """Compact a tombstoned on-disk posting store IN PLACE, rewriting
    only the ``cell_bucket`` partitions that contain a tombstone —
    write amplification is O(store/num_buckets × touched_buckets),
    never O(index) (the KeyedUpsertSink shard contract via Spark's own
    dynamic partition overwrite instead of hand-rolled renames; in
    production the same statement is a ``MERGE INTO`` on Delta/Iceberg
    with ``replaceWhere``). Untouched partitions are neither read
    (partition pruning on the ``isin`` filter) nor written (dynamic
    mode overwrites only partitions present in the output). Returns
    the touched bucket ids (bounded by ``num_buckets`` — a metadata
    collect, the ``sinks.py`` shard-id pattern)."""
    store = spark.read.parquet(path)
    touched = sorted(
        r[0]
        for r in store.where(F.col("mvec").isNull())
        .select("cell_bucket")
        .distinct()
        .collect()
    )
    if not touched:
        return []
    sub = store.where(F.col("cell_bucket").isin(touched))
    tomb = sub.where(F.col("mvec").isNull()).select(
        "centroid_id", "member_id"
    )
    resolved = (
        sub.where(F.col("mvec").isNotNull())
        .join(F.broadcast(tomb), ["centroid_id", "member_id"], "left_anti")
        # sever the file-source lineage: Spark refuses to overwrite a
        # path its own plan reads; the resolved subset is touched-
        # bucket-sized, not index-sized
        .localCheckpoint(eager=True)
    )
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        resolved.write.partitionBy("cell_bucket").mode("overwrite").parquet(
            path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # Dynamic overwrite only replaces partitions PRESENT in the
    # output: a touched bucket whose every live row is tombstoned
    # contributes zero resolved rows, so its old files (tombstones +
    # dominated rows) would survive the overwrite — the store would
    # read deleted members back as live and a second compact would
    # find the same tombstones again (idempotency broken). Explicitly
    # drop touched partitions absent from the resolved output (the
    # ``replaceWhere``-on-empty case Delta handles natively; both
    # lists are <= num_buckets, a metadata collect).
    kept = {
        r[0] for r in resolved.select("cell_bucket").distinct().collect()
    }
    emptied = [b for b in touched if b not in kept]
    if emptied:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for b in emptied:
            part = jvm.org.apache.hadoop.fs.Path(
                f"{path}/cell_bucket={b}"
            )
            part.getFileSystem(hconf).delete(part, True)
    return touched


def ivf_store_read(spark, path: str) -> DataFrame:
    """Load a posting store back to the ``(centroid_id, member_id,
    mvec)`` layout every index op consumes (drops the layout-only
    ``cell_bucket`` partition column)."""
    return spark.read.parquet(path).select(
        "centroid_id", "member_id", "mvec"
    )


def ivf_member_manifest(postings: DataFrame) -> DataFrame:
    """The member→cell MANIFEST projection of a posting artifact:
    ``(member_id, centroid_id)`` for every LIVE member (tombstoned
    keys resolved away through ``live_postings``, so an
    already-deleted member is simply absent — the lookup-side twin of
    the ``ivf_index_delete`` no-op contract). This is what id-only
    maintenance (``streaming_ivf_delete``) probes instead of the full
    posting table: two longs per member vs the member vector payload,
    pre-deduped, no per-probe tombstone resolution."""
    return (
        live_postings(postings)
        .select("member_id", "centroid_id")
        .distinct()
    )


def ivf_manifest_write(
    postings: DataFrame, path: str, num_buckets: int = 16
) -> None:
    """Persist the member→cell manifest ``member_bucket``-partitioned
    (``pmod(member_id, num_buckets)`` — the ``ivf_store_write`` layout
    doctrine applied to the member key): a per-member probe prunes to
    its bucket directory, and the artifact re-read per streaming
    micro-batch is manifest-sized (2 long columns), never
    posting-payload-sized. Rebuild after compaction (overwrite) —
    the manifest is a derived projection, not a second source of
    truth."""
    ivf_member_manifest(postings).withColumn(
        "member_bucket", F.pmod(F.col("member_id"), F.lit(int(num_buckets)))
    ).write.partitionBy("member_bucket").mode("overwrite").parquet(path)


def ivf_manifest_read(spark, path: str) -> DataFrame:
    """Load a persisted member→cell manifest back to the
    ``(member_id, centroid_id)`` lookup layout (drops the layout-only
    ``member_bucket`` partition column)."""
    return spark.read.parquet(path).select("member_id", "centroid_id")


def sq_encode_postings(
    postings: DataFrame, dims: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Compress an IVF posting table to int8 SQ codes — the artifact a
    100 TB deployment actually persists (the ``build_ivf_index``
    docstring's promised seam): returns ``(coded, stats)`` where
    ``coded`` is ``(centroid_id, member_id, codes array<int>)`` (~8×
    leaner than float64 ``mvec``; pack to binary at rest) and
    ``stats`` is the ONE quantizer row ``(mn, scale)`` trained on the
    posting vectors (per-dimension min/max — the corpus itself, since
    every vector posts exactly once). Decode with
    ``sq_decode_postings``; the query path is then asymmetric
    (full-precision queries vs reconstructed members), the
    ``sq_cosine_topk`` contract inside the IVF scan."""
    stats = _sq_stats(postings, "mvec", dims)
    coded = postings.crossJoin(F.broadcast(stats)).select(
        "centroid_id",
        "member_id",
        F.expr(f"transform(cast(mvec as array<double>), (x, i) -> {_SQ_CODE})").alias(
            "codes"
        ),
    )
    return coded, stats


def sq_decode_postings(coded: DataFrame, stats: DataFrame) -> DataFrame:
    """Reconstruct a codes-only posting table back to the
    ``(centroid_id, member_id, mvec)`` layout ``ivf_index_query``
    scans — a shuffle-free projection against the broadcast 1-row
    quantizer stats, evaluated inside the scan tasks (the ADC shape:
    reconstruction cost rides the query, memory rides the codes)."""
    return coded.crossJoin(F.broadcast(stats)).select(
        "centroid_id", "member_id", F.expr(_SQ_DECODE).alias("mvec")
    )


def collect_ivf_quantizer(index: DataFrame) -> dict:
    """Materialize a persisted ``build_ivf_index`` artifact's QUANTIZER
    into plain numpy arrays so a Python worker can route vectors with
    zero Spark plans per batch — what the streaming ingest operator
    (``streaming_ivf_ingest``) broadcasts. Bounded collect BY the
    artifact's construction: C cells + ceil(sqrt(C)) supers, each table
    checked against ``_COLLECT_MAX_VALUES`` by ``_collect_table``.

    Returns ``{sup_ids, sup_nmat, cell_ids, cell_nmat, cell_super}``
    with both id arrays SORTED ASCENDING and the matrices L2-normalized
    (zero-norm rows zeroed) — the exact preconditions the batch
    routing's stable-argsort tie-break (lowest id wins) relies on."""
    sup_ids, sup_mat, _ = _collect_table(
        index.where(F.col("level") == 2).select("centroid_id", "cvec"),
        "IVF index super table",
    )
    cell_ids, cell_mat, cell_rows = _collect_table(
        index.where(F.col("level") == 1).select("centroid_id", "cvec", "super_id"),
        "IVF index cell table",
    )
    return {
        "sup_ids": sup_ids,
        "sup_nmat": _unit_rows(sup_mat),
        "cell_ids": cell_ids,
        "cell_nmat": _unit_rows(cell_mat),
        "cell_super": np.array([r[2] for r in cell_rows], dtype=np.int64),
    }


def route_frozen_np(mat, quant: dict, n_super_probe: int = 2,
                    round_dp: int = 6):
    """Rank 1 of ``route_frozen_topn`` per row of ``mat``: its single
    home cell id, or -1 when none of its probed supers homes any cell
    (the batch ``_route_cells`` drops such rows the same way). This is
    the routing ``ivf_index_append`` and the streaming ingest share,
    which is what makes the streaming posting set equal the batch
    append under any micro-batch split (test-pinned row-for-row)."""
    ridx, cells, _ = route_frozen_topn(mat, quant, n_super_probe, 1, round_dp)
    out = np.full(len(mat), -1, dtype=np.int64)
    out[ridx] = cells
    return out


def route_frozen_topn(mat, quant: dict, n_super_probe: int = 2,
                      n_probe: int = 1, round_dp: int = 6):
    """NumPy twin of ``_route_cells`` against a FROZEN collected
    quantizer: for each row of ``mat`` (raw vectors) return its
    ``n_probe`` best cells over the union of cells homed in its
    ``n_super_probe`` nearest supers, as three parallel arrays
    ``(row_idx, cell_id, crn)`` with ``crn`` = 1-based rank. Twin of the
    batch window's (rounded csim DESC, centroid_id ASC) row_number —
    stable argsort over ascending ids reproduces the tie order; rows
    whose probed supers home no cell emit nothing, exactly as
    ``per_super`` does (parity test-pinned).

    Cost shape: rows are grouped by their probed-super SET, one BLAS
    product per distinct set against only those supers' cells — the
    same grouped-BLAS bound as the batch stage, minus its shuffle."""
    q = _unit_rows(mat)
    nsp = min(n_super_probe, len(quant["sup_ids"]))
    top = _nearest(q, quant["sup_nmat"], nsp, round_dp)
    probed = np.sort(quant["sup_ids"][top], axis=1)
    rows_out, cells_out, crn_out = [], [], []
    combos, inv = np.unique(probed, axis=0, return_inverse=True)
    for ci in range(len(combos)):
        sel = np.nonzero(inv == ci)[0]
        cand = np.isin(quant["cell_super"], combos[ci])
        if not cand.any():
            continue
        c_ids = quant["cell_ids"][cand]  # ascending (collect contract)
        n = min(int(n_probe), len(c_ids))
        topc = _nearest(q[sel], quant["cell_nmat"][cand], n, round_dp)
        rows_out.append(np.repeat(sel, n))
        cells_out.append(c_ids[topc].ravel())
        crn_out.append(np.tile(np.arange(1, n + 1, dtype=np.int64), len(sel)))
    if not rows_out:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    return (
        np.concatenate(rows_out),
        np.concatenate(cells_out),
        np.concatenate(crn_out),
    )


def _route_probes_frozen(
    v: DataFrame, quant: dict, n_super_probe: int, n_probe: int,
    round_dp: int = 6,
) -> DataFrame:
    """Probe routing against the broadcast frozen quantizer: one
    mapInPandas pass emitting ``(id, centroid_id, _crn, vec)`` — the
    exact column contract of ``_route_cells(...).join(v, "id")`` that
    every IVF scan consumes, produced with zero exchanges, no rank
    window, and no vector join-back (the query payload rides its own
    batch). Replaces the distributed probe pipeline in the fused and
    indexed scans (r12, guide §2.4/§8)."""
    import pandas as pd

    vec_t = v.schema["vec"].dataType.simpleString()
    b_quant = v.sparkSession.sparkContext.broadcast(quant)
    nsp, npr = int(n_super_probe), int(n_probe)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["vec"]), dtype=np.float64)
            ridx, cells, crn = route_frozen_topn(
                mat, b_quant.value, nsp, npr, round_dp
            )
            yield pd.DataFrame(
                {
                    "id": ids[ridx],
                    "centroid_id": cells,
                    "_crn": crn.astype(np.int32),
                    "vec": pdf["vec"].to_numpy()[ridx],
                }
            )

    return v.select("id", "vec").mapInPandas(
        fn, f"id long, centroid_id long, _crn int, vec {vec_t}"
    )


def _frozen_quantizer(cent: DataFrame, sup: DataFrame, round_dp: int = 6) -> dict:
    """Collect (cells, supers) into the ``route_frozen_np`` quantizer
    dict, computing each cell's home super DRIVER-SIDE with the
    identical stable-argsort rounded-cosine BLAS ``_assign_cells_blas``
    runs at ``n_probe=1`` (ascending-id tie order, zero-norm rows
    zeroed). Bounded by the index-metadata contract: C + ceil(sqrt C)
    rows, each table checked against ``_COLLECT_MAX_VALUES``."""
    sup_ids, sup_mat, _ = _collect_table(
        sup.select("centroid_id", "cvec"), "super-centroid table"
    )
    cell_ids, cell_mat, _ = _collect_table(
        cent.select("centroid_id", "cvec"), "centroid table"
    )
    sup_nmat, cell_nmat = _unit_rows(sup_mat), _unit_rows(cell_mat)
    # ties keep ascending super id — the _assign_cells_blas top-1 rule
    top = _nearest(cell_nmat, sup_nmat, 1, round_dp)[:, 0]
    return {
        "sup_ids": sup_ids,
        "sup_nmat": sup_nmat,
        "cell_ids": cell_ids,
        "cell_nmat": cell_nmat,
        "cell_super": sup_ids[top],
    }


def _route_frozen_postings(
    v: DataFrame, quant: dict, n_super_probe: int, round_dp: int = 6
) -> DataFrame:
    """ONE-pass member routing against the broadcast frozen quantizer
    (``route_frozen_np`` — byte-identical to the batch ``_route_cells``
    at ``n_probe=1``, the pinned streaming-ingest parity kernel): emits
    the ``(centroid_id, member_id, mvec)`` posting rows directly from
    each Arrow batch. Replaces the 4-stage assign → exchange → rank
    window → vector join-back pipeline with zero exchanges (guide
    §2.4), and the member payload never leaves its scan task (§8:
    decide with broadcast metadata, move heavy bytes once). Rows whose
    probed supers home no cell route to -1 and drop, exactly as the
    batch path drops them."""
    import pandas as pd

    vec_t = v.schema["vec"].dataType.simpleString()
    b_quant = v.sparkSession.sparkContext.broadcast(quant)
    nsp = int(n_super_probe)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["vec"]), dtype=np.float64)
            cells = route_frozen_np(mat, b_quant.value, nsp, round_dp)
            keep = cells >= 0
            yield pd.DataFrame(
                {
                    "centroid_id": cells[keep],
                    "member_id": ids[keep],
                    "mvec": pdf["vec"].to_numpy()[keep],
                }
            )

    return v.select("id", "vec").mapInPandas(
        fn, f"centroid_id long, member_id long, mvec {vec_t}"
    )


def ivf_index_query(
    index: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_super_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    cogroup: bool = False,
) -> DataFrame:
    """The PURE SCAN half of the build/query split: top-k neighbors for
    ``queries`` against a PREBUILT ``(index, postings)`` artifact — no
    quantizer training, no member re-assignment, nothing corpus-sized
    on the driver. The per-query cost is (route: one BLAS score against
    the broadcast supers + one grouped-BLAS cell ranking) + (scan: one
    grouped-BLAS pass over the probed cells' posting lists) — the
    query-many production path whose volume scaling SCALE_NOTES r8
    measures separately from the build.

    ``cogroup=True`` scores the cell scan as a COGROUP of (probes,
    postings) instead of a union: each side keeps its own distribution
    requirement, so when the posting artifact is stored BUCKETED by
    ``centroid_id`` (``.write.bucketBy(n, 'centroid_id')
    .saveAsTable(...)``) the corpus side satisfies the clustering
    in-place and ONLY the (much smaller) probe side shuffles — at
    100 TB the posting table never crosses an exchange per query
    (plan-asserted in tests; identical output either way). With
    unbucketed postings the union form is marginally fewer stages, so
    it stays the default.

    Output contract matches every IVF query: ``(query_id, rank,
    neighbor_id, cosine)``, cosine ROUNDED to ``round_dp``, neighbor-id
    tiebreaks, self excluded. With ``queries`` = the indexed corpus and
    equal probes this is EXACTLY ``ivf2k_cosine_topk`` (parity-pinned
    in tests)."""
    pairs_fn = _indexed_pairs_cogroup if cogroup else _indexed_pairs
    return pairs_fn(
        index, postings, queries, n_probe, n_super_probe, id_col, vec_col,
        round_dp,
    ).transform(lambda pairs: _rank_topk(pairs, k))


def _indexed_pairs(
    index: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    n_probe: int,
    n_super_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Scored (query, member) candidate pairs of the indexed scan, with
    the probe rank carried: ``(query_id, _crn, neighbor_id, cosine)``.
    Factored from ``ivf_index_query`` so the recall-curve sweep can
    score ONCE at max(n_probe) and mask arms by ``_crn`` (the fused
    knob-sweep pattern of ``ann_recall_curve``)."""
    import pandas as pd

    q = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # probe routing against the collected artifact quantizer (stored
    # cell homes — the query path never re-assigns cells): one
    # mapInPandas, no exchange/window/join-back (r12, guide §2.4)
    probes = _route_probes_frozen(
        q, collect_ivf_quantizer(index), n_super_probe, n_probe, round_dp
    )

    mixed = probes.select(
        "centroid_id",
        F.lit("Q").alias("role"),
        "id",
        "vec",
        F.col("_crn").cast("int").alias("_crn"),
    ).unionByName(
        postings.select(
            "centroid_id",
            F.lit("I").alias("role"),
            F.col("member_id").alias("id"),
            F.col("mvec").alias("vec"),
            F.lit(0).alias("_crn"),
        )
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        is_i = (pdf["role"] == "I").to_numpy()
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        q_ids, m_ids = ids[~is_i], ids[is_i]
        qi, mi, cos = _score_pairs(q_ids, mat[~is_i], m_ids, mat[is_i], round_dp)
        q_crn = pdf["_crn"].to_numpy()[~is_i]
        return _indexed_frame(q_ids[qi], q_crn[qi], m_ids[mi], cos)

    return mixed.groupBy("centroid_id").applyInPandas(per_cell, _INDEXED_SCHEMA)


_INDEXED_SCHEMA = "query_id long, _crn int, neighbor_id long, cosine double"


def _indexed_frame(query_id, crn, neighbor_id, cosine):
    """One ``_INDEXED_SCHEMA`` result frame of the indexed cell scan."""
    import pandas as pd

    return pd.DataFrame(
        {
            "query_id": query_id,
            "_crn": crn.astype(np.int32),
            "neighbor_id": neighbor_id,
            "cosine": cosine,
        }
    )


def _indexed_pairs_cogroup(
    index: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    n_probe: int,
    n_super_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """``_indexed_pairs`` as a (probes, postings) COGROUP — output
    identical (test-pinned), plan different: the posting side carries
    its own ClusteredDistribution requirement, which a
    bucketed-by-``centroid_id`` artifact satisfies WITHOUT an exchange
    (the union form re-shuffles the corpus on every query). The shape
    a lake deployment runs."""
    import pandas as pd

    q = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # same frozen-quantizer probe routing as `_indexed_pairs` (r12)
    probes = _route_probes_frozen(
        q, collect_ivf_quantizer(index), n_super_probe, n_probe, round_dp
    )

    def per_cell(key, probe_pdf: pd.DataFrame, member_pdf: pd.DataFrame):
        if not len(probe_pdf) or not len(member_pdf):
            return pd.DataFrame(columns=["query_id", "_crn", "neighbor_id", "cosine"])
        q_ids = probe_pdf["id"].to_numpy(dtype=np.int64)
        m_ids = member_pdf["member_id"].to_numpy(dtype=np.int64)
        qi, mi, cos = _score_pairs(
            q_ids,
            np.array(list(probe_pdf["vec"]), dtype=np.float64),
            m_ids,
            np.array(list(member_pdf["mvec"]), dtype=np.float64),
            round_dp,
        )
        q_crn = probe_pdf["_crn"].to_numpy()
        return _indexed_frame(q_ids[qi], q_crn[qi], m_ids[mi], cos)

    return (
        probes.groupBy("centroid_id")
        .cogroup(postings.groupBy("centroid_id"))
        .applyInPandas(per_cell, _INDEXED_SCHEMA)
    )


def ivf_index_manifest(
    emb: DataFrame,
    n_centroids: int | None = None,
    n_iter: int = 2,
    n_super_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """The BUILD artifact as driver-gated rows: one row per index entry
    — ``(level, centroid_id, super_id, cell_size, cnorm)`` where
    ``cell_size`` counts posting-list members for level-1 cells and
    homed cells for level-2 supers (0 for empties: the manifest a lake
    deployment would range-check before swapping the live index), and
    ``cnorm`` is the centroid's rounded L2 norm (pins the full vector
    without hashing a float array). Everything upstream is
    ``build_ivf_index`` verbatim, so a green row here certifies the
    persisted artifact, not a lookalike."""
    index, postings = build_ivf_index(
        emb, n_centroids, n_iter, n_super_probe, id_col, vec_col,
        round_dp=round_dp,
    )
    cell_sizes = postings.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    super_sizes = (
        index.where(F.col("level") == 1)
        .groupBy(F.col("super_id").alias("centroid_id"))
        .agg(F.count(F.lit(1)).alias("_sn"))
    )
    return (
        index.join(cell_sizes, "centroid_id", "left")
        .join(super_sizes, "centroid_id", "left")
        .select(
            "level",
            "centroid_id",
            "super_id",
            F.when(F.col("level") == 1, F.coalesce("_n", F.lit(0)))
            .otherwise(F.coalesce("_sn", F.lit(0)))
            .cast("long")
            .alias("cell_size"),
            F.round(_norm(F.col("cvec")), round_dp).alias("cnorm"),
        )
    )


def ivf_indexed_recall_curve(
    emb: DataFrame,
    k: int = 5,
    n_probes: tuple[int, ...] = (1, 2, 4),
    n_clusters: int = 16,
    dims: int = 64,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Recall@k of the INDEXED query path on the planted mixture, swept
    over ``n_probe`` — the r8 acceptance row for the build/query split:
    at equal probes these values must equal the fused ``ivf2k`` arm of
    ``ann_recall_curve`` (same quantizer, same routing — equality is by
    construction, this query PINS it against the exact baseline).

    FUSED: the index is built once, candidates are scored ONCE at
    max(``n_probes``) with the probe rank carried, and each arm masks
    ``_crn <= n_probe`` before ranking — one grouped-BLAS scan feeding
    every arm (the ``ann_recall_curve`` fusion pattern). Ground truth
    is the N²-by-contract sharded-BLAS baseline over the same planted
    table. Output: ``(n_probe, n_hits, n_ann, n_exact, recall)``."""
    from flink_helloworld_spark.operators._cache import share

    if sample_mod is not None:
        emb = emb.where(F.col(id_col) % sample_mod == 0)
    planted = share(
        planted_embeddings(
            emb, n_clusters=n_clusters, dims=dims, id_col=id_col,
            vec_col=vec_col,
        ).select(id_col, vec_col)
    )
    index, postings = build_ivf_index(
        planted, id_col=id_col, vec_col=vec_col, round_dp=round_dp
    )
    pairs = share(
        _indexed_pairs(
            index, postings, planted, max(n_probes), 2, id_col, vec_col,
            round_dp,
        )
    )
    exact = share(
        cosine_topk_exact_sharded(
            planted, k=k, id_col=id_col, vec_col=vec_col, round_dp=round_dp
        ).select("query_id", "neighbor_id")
    )
    tagged = None
    for np_ in n_probes:
        arm = _rank_topk(pairs.where(F.col("_crn") <= np_), k).select(
            F.lit(np_).cast("int").alias("n_probe"), "query_id", "neighbor_id"
        )
        tagged = arm if tagged is None else tagged.unionByName(arm)
    return _recall_tally(tagged, exact, "n_probe")


def ann_recall_at_k(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> DataFrame:
    """Recall@k of every ANN variant against the exact baseline — the
    quality number the ANN family is actually tuned by at 100 TB (cells
    probed / bands / planes trade recall for wall-clock; wall-clock alone
    says nothing).

    Ground truth = ``cosine_topk_exact_sharded`` (the exhaustive-by-
    contract baseline); each variant runs with the SAME parameters as its
    registry query, so the measured recall describes the shipped
    configuration. Output: one row per variant —
    (variant, n_hits, n_ann, n_exact, recall) with
    recall = |ANN ∩ exact| / |exact| over all queries.

    Scale shape: the exact side is computed once and persisted; variants
    union into ONE tagged table, so the membership probe is a single
    (query_id, neighbor_id) hash join + one small agg. Totals ride as a
    broadcast 1-row aggregate crossJoin, never an eager count.

    ``sample_mod`` is the 100 TB operating mode: ground truth is
    computed only for the deterministic query sample
    (``id % sample_mod == 0``) against the FULL candidate corpus, and
    each ANN variant's output is filtered to the same sample — the
    exhaustive baseline's N² shrinks by the sampling factor while the
    measured recall stays an unbiased estimate of the full-corpus
    number (queries are exchangeable under the deterministic id hash).
    """
    from flink_helloworld_spark.operators._cache import share

    q_sample = (
        emb.where(F.col(id_col) % sample_mod == 0)
        if sample_mod is not None
        else None
    )
    exact = share(
        cosine_topk_exact_sharded(
            emb, k=k, id_col=id_col, vec_col=vec_col, queries_df=q_sample
        ).select("query_id", "neighbor_id")
    )
    variants = {
        "ivf": ivf_cosine_topk(emb, k=k, n_probe=2, id_col=id_col, vec_col=vec_col),
        "ivf2": ivf2_cosine_topk(
            emb, k=k, n_probe=2, n_super_probe=2, id_col=id_col, vec_col=vec_col
        ),
        "ivf2k": ivf2k_cosine_topk(
            emb, k=k, n_probe=2, n_super_probe=2, id_col=id_col, vec_col=vec_col
        ),
        "ivfpq": ivfpq_topk(
            emb, k=k, n_probe=2, m=4, ksub=16, rerank=16,
            id_col=id_col, vec_col=vec_col,
        ),
        "lsh": lsh_cosine_topk(emb, k=k, planes=8, id_col=id_col, vec_col=vec_col),
    }
    tagged = None
    for name, df in variants.items():
        t = df.select(
            F.lit(name).alias("variant"), "query_id", "neighbor_id"
        )
        if sample_mod is not None:
            t = t.where(F.col("query_id") % sample_mod == 0)
        tagged = t if tagged is None else tagged.unionByName(t)
    return _recall_tally(tagged, exact, "variant")


def planted_embeddings(
    emb: DataFrame,
    n_clusters: int = 16,
    dims: int = 64,
    noise_micro: int = 300000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic clusterable synthetic embeddings — the recall
    harness's ground-truth-friendly data generator (VERDICT r5 item 2).

    The testdata ``embeddings`` table is i.i.d. uniform — the ONE
    distribution where ANN *cannot* work (no cluster structure), so
    recall measured on it says nothing about the index knobs. This
    re-plants every row as a planted mixture: cluster
    ``c = vec_id % n_clusters`` with center
    ``center_c[d] = md5('pc:c:d') % 2000001 / 1e6 - 1.0`` (uniform in
    [-1, 1]) plus per-row noise
    ``md5('pn:vec_id:d') % (2*noise_micro+1) / 1e6 - noise_micro/1e6``
    (uniform in ±0.3 by default), rounded to 6 dp. Every term is an
    integer-derived double with one division — bit-identical in Spark
    and DuckDB (verified exactly, all rows), so oracles replay it as a
    plain CTE with no fitted state.

    At ±0.3 noise the structure is strong but not degenerate: IVF
    recall@5 climbs 0.75 → 1.0 as n_probe goes 1 → 8 (SCALE_NOTES),
    which is the behavior a knob sweep must be able to SHOW.

    Scale shape: a pure per-row projection (64 md5 pairs inside
    whole-stage codegen) — no shuffle, no Python, linear in N.
    """
    span = 2 * noise_micro + 1
    half = noise_micro / 1000000.0

    def h(expr: str) -> str:
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"

    # ONE higher-order transform instead of a 64-element literal array:
    # the literal form costs seconds of Catalyst/codegen time per plan
    # (128 md5 nodes inlined into every consumer), the transform plans
    # in milliseconds and evaluates the identical arithmetic
    center = h(f"concat('pc:', CAST({id_col} % {n_clusters} AS STRING), ':', CAST(d AS STRING))")
    noise = h(f"concat('pn:', CAST({id_col} AS STRING), ':', CAST(d AS STRING))")
    vec = F.expr(
        f"""transform(sequence(0, {dims - 1}), d ->
              round(({center} % 2000001) / 1000000.0D - 1.0D
                  + ({noise} % {span}) / 1000000.0D - {half!r}D, 6))"""
    )
    return emb.select(
        F.col(id_col),
        (F.col(id_col) % n_clusters).cast("int").alias("cluster_id"),
        vec.alias(vec_col),
    )


def ann_recall_curve(
    emb: DataFrame,
    k: int = 5,
    n_probes: tuple[int, ...] = (1, 2, 4, 8),
    lsh_planes: tuple[int, ...] = (4, 6, 8),
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Knob-sweep recall curve over PLANTED (clusterable) embeddings —
    one row per (variant, knob): IVF swept over ``n_probes`` and
    hyperplane LSH swept over ``lsh_planes``, each scored against the
    exact sharded baseline on the same planted table.

    This is the companion to ``ann_recall_at_k`` (which audits the
    SHIPPED configs on the real table): here the data has known cluster
    structure, so the curve shows what each knob actually buys — IVF
    recall must rise toward 1.0 with n_probe, LSH recall must rise as
    planes fall (bigger buckets). A flat curve means the index is
    broken, not that the data is unclusterable.

    Scale shape: the planted table is a per-row projection of the
    corpus (no shuffle); ground truth is the sharded-BLAS exact kernel
    computed ONCE and persisted; every swept variant unions into one
    tagged table so membership is a single (query_id, neighbor_id) hash
    join + one small agg. ``sample_mod`` is the 100 TB operating mode:
    the curve runs on the deterministic corpus sample
    ``id % sample_mod == 0`` — every arm's pair count (including the
    widest LSH buckets, the cost driver) shrinks quadratically while
    the curve's SHAPE, the thing that tunes the knobs, is preserved
    (the sample keeps the same planted cluster mixture).
    """
    from flink_helloworld_spark.operators._cache import share

    if sample_mod is not None:
        emb = emb.where(F.col(id_col) % sample_mod == 0)
    # persist the planted projection: 7 sweep arms + the exact baseline
    # all consume it, and inlining the 64-dim md5 expression tree into
    # every arm makes Catalyst planning (not execution) the cost driver
    planted = share(
        planted_embeddings(emb, id_col=id_col, vec_col=vec_col).select(
            id_col, vec_col
        )
    )
    exact = share(
        cosine_topk_exact_sharded(
            planted, k=k, id_col=id_col, vec_col=vec_col
        ).select("query_id", "neighbor_id")
    )

    # ---- fused IVF sweep: candidates computed ONCE at max(n_probes) --
    # Running ivf_cosine_topk once per knob re-pays index build +
    # assignment + cell scan per arm. Instead: one assignment at the
    # deepest probe depth, one per-cell scan that tags every candidate
    # pair with the PROBE RANK that produced it — each n_probe arm is
    # then a filter (probe_rank <= n_probe) + top-k over the shared
    # cached pair table. Bit-identical to the standalone runs: the
    # probe list is the same stable rounded-cosine ranking, membership
    # (_crn == 1) is probe-depth-independent, and a neighbor lives in
    # exactly one cell so no pair can arrive twice.
    import pandas as pd

    round_dp = 6
    v = planted.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    cent = _md5_centroids(v, _auto_centroids(planted))
    ranked = share(
        _assign_cells_blas(v, cent, max(n_probes), round_dp).join(v, on="id")
    )
    ivf_pairs = share(_scan_cells(ranked, round_dp, probe_rank=True))

    def topk_tag(pairs: DataFrame, variant: str, knob: int) -> DataFrame:
        return _rank_topk(pairs, k).select(
            F.lit(variant).alias("variant"),
            F.lit(knob).cast("int").alias("knob"),
            "query_id",
            "neighbor_id",
        )

    tagged = None
    for n_probe in n_probes:
        t = topk_tag(
            ivf_pairs.where(F.col("probe_rank") <= n_probe), "ivf", n_probe
        )
        tagged = t if tagged is None else tagged.unionByName(t)

    # ---- fused LSH sweep: plane-p buckets are PREFIX-NESTED ----------
    # hyperplane_bucket's plane-p sign pattern depends only on (p, d),
    # so bucket_p(x) = bucket_P(x) % 2^p for any p <= P. Pairs are
    # therefore computed ONCE per coarsest (fewest-planes) bucket — a
    # superset of every arm — carrying the sign-bit XOR; arm p keeps
    # the pairs whose low p sign bits all agree (xor % 2^p == 0).
    # Scoring is the per-bucket BLAS kernel with the ROUNDED-cosine
    # ranking contract of cosine_topk_vectorized_sharded (the measured
    # 49x lesson: an interpreted zip_with cosine join over the coarse
    # superset ran 50.9x at 10x volume; one matrix product per bucket
    # is row-linear in candidates and oracle-exact by rounding).
    p_max, p_min = max(lsh_planes), min(lsh_planes)
    b = share(
        planted.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            hyperplane_bucket(F.col(vec_col), p_max).alias("bits"),
        )
    )
    lsh_schema = "query_id long, neighbor_id long, cosine double, xorb long"

    def per_coarse_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        bits = pdf["bits"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        qi, ci, cos = _score_pairs(ids, mat, ids, mat, round_dp)
        return pd.DataFrame(
            {
                "query_id": ids[qi],
                "neighbor_id": ids[ci],
                "cosine": cos,
                "xorb": bits[qi] ^ bits[ci],
            }
        )

    lsh_pairs = share(
        b.withColumn("cb", F.col("bits") % (1 << p_min))
        .groupBy("cb")
        .applyInPandas(per_coarse_bucket, lsh_schema)
    )
    for planes in lsh_planes:
        t = topk_tag(
            lsh_pairs.where(F.col("xorb") % (1 << planes) == 0), "lsh", planes
        )
        tagged = tagged.unionByName(t)
    return _recall_tally(tagged, exact, "variant", "knob")


# --- int8 scalar quantization (SQ8) ----------------------------------------

# SQ8 code of element ``x`` at index ``i`` against the ``mn``/``scale``
# quantizer arrays in scope, and the inverse over a ``codes`` column.
_SQ_CODE = """CASE WHEN scale[i] <= 0.0D THEN 0
    ELSE CAST(least(255.0D, greatest(0.0D, round((x - mn[i]) / scale[i], 0))) AS INT)
    END"""
_SQ_DECODE = "transform(codes, (c, i) -> mn[i] + CAST(c AS DOUBLE) * scale[i])"


def _sq_stats(df: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """The ONE-row SQ8 quantizer ``(mn, scale)`` of ``vec_col``:
    per-dimension min and (max - min) / 255, as one map-side-combinable
    aggregate."""
    v = F.col(vec_col).cast("array<double>")
    return df.agg(
        F.array(*[F.min(v[i]) for i in range(dims)]).alias("mn"),
        F.array(*[F.max(v[i]) for i in range(dims)]).alias("mx"),
    ).select(
        "mn",
        F.expr("transform(mx, (x, i) -> (x - mn[i]) / 255.0D)").alias("scale"),
    )


def sq_quantize(
    emb: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8 scalar quantization (the FAISS ``SQ8`` layout): each
    dimension is linearly mapped to a 0..255 code using per-dimension
    corpus min/max — a 4x memory cut (float32 -> uint8) that at 100 TB
    is the difference between an embedding table that fits executor
    memory and one that doesn't.

    Returns (id, codes array<int>, mn array<double>, scale
    array<double>): codes are ``round((x - mn_d) / scale_d)`` clamped to
    [0, 255] with ``scale_d = (max_d - min_d) / 255``; constant
    dimensions (scale 0) code to 0. All arithmetic is double on both
    engines (float32 -> float64 widening is exact), and rounding is
    half-away-from-zero — Spark ``round`` and DuckDB ``round`` agree, so
    the codes are oracle-exact integers.

    Scale shape: the stats pass is ONE map-side-combinable aggregate
    producing a single 2x``dims`` row, broadcast back via crossJoin;
    coding is a pure per-row projection (whole-stage codegen, no
    shuffle, no Python).
    """
    stats = _sq_stats(emb, vec_col, dims)
    return emb.crossJoin(F.broadcast(stats)).select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform(cast({vec_col} as array<double>), (x, i) -> {_SQ_CODE})"
        ).alias("codes"),
        "mn",
        "scale",
    )


def sq_reconstruct(
    emb: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Round-trip every vector through its SQ8 codes: ``(id_col,
    vec_col)`` with each vector replaced by ``mn_d + code_d * scale_d``
    — what a consumer that persisted only the codes table actually
    sees. Factored from ``sq_cosine_topk`` so the verified gates can
    check against the RECONSTRUCTED owner (the state a quantized
    streaming gate holds) under the exact oracle-replayable
    construction. Shuffle-free projection, codegen-side."""
    coded = sq_quantize(emb, dims=dims, id_col=id_col, vec_col=vec_col)
    return coded.select(F.col("id").alias(id_col), F.expr(_SQ_DECODE).alias(vec_col))


def sq_cosine_topk(
    emb: DataFrame,
    k: int = 5,
    dims: int = 64,
    sample_mod: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Asymmetric top-k over the int8-quantized corpus: queries keep
    full precision, candidates are reconstructed from their SQ8 codes
    (``mn_d + code * scale_d``) — the standard asymmetric-distance
    trade (query precision is free, corpus memory is the bottleneck),
    same contract as the PQ family's ADC step.

    The scoring reuses ``cosine_topk_exact_sharded`` over the
    reconstructed vectors with a deterministic query sample
    (``id % sample_mod == 0``) at full-precision — so output ranks
    measure exactly what SQ8 compression does to neighbor ordering.
    Output: (query_id, rank, neighbor_id, cosine), rank on the
    ``round_dp``-rounded cosine, neighbor-id tiebreak, self excluded.

    Scale shape: quantize + reconstruct are shuffle-free projections;
    the block-sharded BLAS kernel bounds per-task memory (~256-row
    blocks) regardless of corpus size. In a real deployment the codes
    table is what you'd persist; reconstruction happens inside the
    scoring task.
    """
    import math

    recon = sq_reconstruct(emb, dims=dims, id_col=id_col, vec_col=vec_col)
    queries_df = emb.where(F.col(id_col) % sample_mod == 0).select(
        id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    # autosize the blocks from the RAW table count (cheap metadata scan):
    # letting the kernel count `recon` would execute the whole
    # quantize+reconstruct pipeline once extra just to size shards
    shards = max(8, math.ceil(emb.count() / 256))
    return cosine_topk_exact_sharded(
        recon,
        k=k,
        q_shards=shards,
        c_shards=shards,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=round_dp,
        queries_df=queries_df,
    )


def sq_reconstruction_error(
    emb: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """The SQ8 quantization-error AUDIT — the number that justifies
    storing int8 codes anywhere exactness matters (the verified gate's
    owner state, a persisted codes-only embedding table): per-vector
    cosine between the original and its reconstruction, plus the worst
    per-dimension absolute error, aggregated to one corpus row
    ``(n_vecs, mean_cos, min_cos, n_below_999, max_abs_err)``.

    ``n_below_999`` counts vectors whose reconstruction cosine falls
    under 0.999 — the capacity-plan headline: at 0 the quantized owner
    is interchangeable with the full-precision one for any gate
    threshold ≤ 0.999 minus the error band.

    Determinism contract (the embedding_audit pattern): per-row cosine
    and max-abs-err round to 9 dp and carry as DECIMAL(28,9), so
    min/mean/max are exact and order-independent; final outputs are
    one double division / cast rounded to ``round_dp``.

    Scale shape: quantize + reconstruct are shuffle-free projections;
    the audit is ONE map-side-combinable aggregate — no join (the
    reconstruction is computed beside the original in the same row),
    nothing driver-side."""
    v = F.col(vec_col).cast("array<double>")
    stats = _sq_stats(emb, vec_col, dims)
    recon = F.expr(
        f"""transform(cast({vec_col} as array<double>), (x, i) ->
              mn[i] + CAST({_SQ_CODE} AS DOUBLE) * scale[i])"""
    )
    per = emb.crossJoin(F.broadcast(stats)).select(
        F.round(_cosine(v, recon), 9)
        .cast("decimal(28,9)")
        .alias("_c"),
        F.round(
            F.array_max(F.zip_with(v, recon, lambda x, r: F.abs(x - r))), 9
        )
        .cast("decimal(28,9)")
        .alias("_e"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum("_c").cast("double") / F.count(F.lit(1)).cast("double"),
            round_dp,
        ).alias("mean_cos"),
        F.round(F.min("_c").cast("double"), round_dp).alias("min_cos"),
        F.sum(F.when(F.col("_c") < 0.999, 1).otherwise(0))
        .cast("long")
        .alias("n_below_999"),
        F.round(F.max("_e").cast("double"), round_dp).alias("max_abs_err"),
    )


def embedding_audit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_dp: int = 6,
) -> DataFrame:
    """Per-label embedding-table audit — the pre-flight check every
    ANN/semantic-dedup family in this module assumes but none
    verifies: L2 norms (the cosine kernels force zero-vector norms to
    +inf, so ``n_zero`` is the count of rows those kernels silently
    score 0.0), dimension consistency (a ragged embedding column makes
    every BLAS reshape undefined), and the norm spread per label (a
    collapsed or exploding norm band is the standard symptom of a bad
    embedding export). At 100 TB this runs once per ingest batch and
    gates the expensive index builds.

    Output: one row per label — ``(label, n_vecs, n_zero, min_dims,
    max_dims, mean_norm, min_norm, max_norm)``.

    Determinism contract (the logppl pattern): per-row norm is rounded
    to 9 dp and carried as DECIMAL(28,9), so min/max/mean are exact and
    order-independent; the mean is one double division rounded to
    ``round_dp``. The squared-norm fold is a fixed left-to-right
    ``F.aggregate`` over the array — same order as the oracle's
    ``list_sum(list_transform(...))``.

    Scale shape: one projection + one hash-aggregate on ``label`` with
    map-side partials; constant state per label, nothing driver-side.
    """
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    per = emb.select(
        F.col(label_col).alias("label"),
        F.round(norm, 9).cast("decimal(28,9)").alias("_n"),
        F.size(vec_col).alias("_d"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("_n") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero"),
        F.min("_d").alias("min_dims"),
        F.max("_d").alias("max_dims"),
        F.round(
            F.sum("_n").cast("double") / F.count(F.lit(1)).cast("double"),
            round_dp,
        ).alias("mean_norm"),
        F.round(F.min("_n").cast("double"), round_dp).alias("min_norm"),
        F.round(F.max("_n").cast("double"), round_dp).alias("max_norm"),
    )


def dim_ablation_recall(
    emb: DataFrame,
    dims: tuple = (8, 16, 32),
    k: int = 5,
    sample_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation ablation: recall@k of exact cosine
    search over PREFIX-truncated embeddings vs the full-dimension
    ground truth — the report that decides how many dimensions an
    embedding column actually needs before the ANN index is built
    (truncation is the cheapest embedding compression there is: a
    projection, no codebooks, no training).

    One sampled query set (``id % sample_mod == 0``) serves every arm;
    each arm is the block-sharded exact BLAS kernel over ``slice(vec,
    1, d)`` — same rounded-ranking contract as the full-dim baseline,
    so the comparison is set arithmetic on deterministic rankings.
    Output: (dims, n_hits, n_ann, n_exact, recall) per truncation arm.

    Scale shape: arms share the one sampled query set; each arm is the
    same O(N·|Q|) blocked kernel the recall audits already budget for,
    and arms are independent (union of parallel branches). n_exact is
    a broadcast 1-row aggregate.
    """
    import math

    # size the block shards ONCE — N is identical for every arm, and
    # letting each kernel call auto-size would re-run emb.count() four
    # times (one redundant corpus scan per arm)
    shards = max(8, math.ceil(emb.count() / 256))
    queries = emb.where(F.col(id_col) % sample_mod == 0)
    exact = cosine_topk_exact_sharded(
        emb,
        k=k,
        q_shards=shards,
        c_shards=shards,
        queries_df=queries,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")

    arms = None
    for d in dims:
        tr = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), 1, int(d)).alias(vec_col),
        )
        trq = tr.where(F.col(id_col) % sample_mod == 0)
        arm = cosine_topk_exact_sharded(
            tr,
            k=k,
            q_shards=shards,
            c_shards=shards,
            queries_df=trq,
            id_col=id_col,
            vec_col=vec_col,
        ).select(
            F.lit(int(d)).alias("dims"), "query_id", "neighbor_id"
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return _recall_tally(arms, exact, "dims")
