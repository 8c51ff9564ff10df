"""Embedding clustering: distributed Lloyd k-means + SemDeDup-style
semantic deduplication (north-star surface: curation of a 100 TB
embedding corpus — cluster, then drop semantic near-duplicates within
each cluster).

Determinism contract (what makes this oracle-checkable without fitted
model state): initial centroids are md5-rank samples (seed ``km:id``);
every distance argmin is integer-packed (``round(d·1e6)·K + cid`` then
``% K``) so float ordering never crosses an engine boundary; and the
per-cluster means are computed as SEQUENTIAL folds over id-sorted
values, which makes the sums independent of partitioning/merge order —
the same trick as the engine's decimal aggregates, but for
full-precision doubles where a decimal cast would not round-trip
identically across engines.

Scale shape per Lloyd iteration: one broadcast nested-loop against K
centroid rows (no shuffle), then a posexplode to (cluster, dim) cells
— map-side combinable up to the collect_list, which holds one cluster's
values for ONE dimension per task (bounded by cluster size, not corpus
size; for larger-than-memory clusters production would switch to a
float mean and give up bit-reproducibility — documented tradeoff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_helloworld_spark.operators._numeric import (
    pack_scaled_int,
    round_half_away,
)


def _kmeans_assign_blas(
    v: DataFrame, cent_df: DataFrame, k: int, with_dist: bool = False
) -> DataFrame:
    """One Lloyd assignment step, Arrow/BLAS path, replaying the exact
    packed-min contract of the column-expression form: each (vector,
    centroid) squared L2 distance is rounded to integer micro-units,
    packed as ``micro * k + cid``, and the minimum picked — so ties at
    micro-granularity break toward the lowest centroid id, identically
    to the DuckDB oracle. The centroid table (≤k rows) is collected and
    broadcast; distances are chunked ``(a-b)²`` sums in NumPy, whose
    ≤1e-13 summation-order difference vanishes under the 1e-6 rounding.

    Returns ``(id, vec, cid)``, plus ``sq_dist`` (the chosen centroid's
    distance rounded to 6 dp) when ``with_dist``.
    """
    import numpy as np
    import pandas as pd

    rows = cent_df.collect()
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cmat = np.array([r["cvec"] for r in rows], dtype=np.float64)
    order = np.argsort(cids)
    cids, cmat = cids[order], cmat[order]
    spark = v.sparkSession
    bc = spark.sparkContext.broadcast((cids, cmat))

    out_schema = "id long, vec array<float>, cid int"
    if with_dist:
        out_schema = "id long, cid int, sq_dist double"

    def fn(batches):
        b_cids, b_cmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            q = np.array(list(pdf["vec"]), dtype=np.float64)
            best_packed = None
            best_sq = None
            for lo in range(0, len(q), 1024):  # bound the N×k×dims tensor
                chunk = q[lo : lo + 1024]
                diff = chunk[:, None, :] - b_cmat[None, :, :]
                sq = np.einsum("ijk,ijk->ij", diff, diff)
                packed = pack_scaled_int(sq) * k + b_cids
                pick = packed.argmin(axis=1)
                rowix = np.arange(len(chunk))
                part_packed = packed[rowix, pick]
                part_sq = sq[rowix, pick]
                best_packed = (
                    part_packed
                    if best_packed is None
                    else np.concatenate([best_packed, part_packed])
                )
                best_sq = (
                    part_sq if best_sq is None else np.concatenate([best_sq, part_sq])
                )
            cid = (best_packed % k).astype(np.int32)
            if with_dist:
                yield pd.DataFrame(
                    {"id": ids, "cid": cid, "sq_dist": round_half_away(best_sq, 6)}
                )
            else:
                yield pd.DataFrame(
                    {"id": ids, "vec": list(pdf["vec"]), "cid": cid}
                )

    return v.select("id", "vec").mapInPandas(fn, out_schema)


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Lloyd k-means with ``n_iter`` fixed iterations; returns
    ``(vec_id, cluster_id, sq_dist)`` — the assignment under the FINAL
    centroids, with the squared L2 distance rounded to ``round_dp``.

    Cluster ids are the 0-based md5-rank of the seed vector; a cluster
    that captures no points in some iteration simply disappears (both
    engines drop it in the group-by), exactly like textbook Lloyd.
    """
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    cent = kmeans_centroids(emb, k, n_iter, id_col=id_col, vec_col=vec_col)
    return _kmeans_assign_blas(v, cent, k, with_dist=True).select(
        F.col("id").alias(id_col),
        F.col("cid").alias("cluster_id"),
        "sq_dist",
    )


_KMEANS_LOCAL_MAX = 32768


def _kmeans_centroids_local(rows, k: int, n_iter: int):
    """Driver-side EXACT twin of the distributed Lloyd loop, used when
    the training table is metadata-sized (``rows`` = the full input as
    ``(id, vec, _h)`` tuples). Quantizer training over a bounded sample
    is index-metadata work — the same bounded-collect contract under
    which ``_kmeans_assign_blas`` already collects the ≤k centroid table
    EVERY iteration — so for small inputs the whole refinement loop runs
    in one process instead of paying 2 shuffles + one Python-boundary
    stage + a collect sync PER iteration (guide §1.2: remove passes
    first). Replays the distributed math op-for-op:

    - seed = k lowest (_h, id) rows, cid = 0-based rank (``seed_topk``);
    - assignment = the ``_kmeans_assign_blas`` kernel verbatim (same
      1024-row chunking, same einsum, same ``pack_scaled_int(sq)*k+cid``
      argmin ties);
    - means = per-cid sequential float64 fold in ascending-id order
      (``np.cumsum`` accumulates sequentially, exactly the
      ``aggregate(array_sort(collect_list(...)))`` fold), divided by
      the count as double/double.

    Bit-identical output is pinned by ``test_kmeans_local_parity``; the
    oracle gate re-proves it on every query that consumes centroids.
    """
    import numpy as np

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat64 = np.array([r[1] for r in rows], dtype=np.float64)
    hs = np.array([r[2] for r in rows], dtype=np.int64)
    seed = np.lexsort((ids, hs))[:k]
    cids = np.arange(len(seed), dtype=np.int64)
    cmat = mat64[seed]
    id_order = np.argsort(ids)
    # the distributed assignment declares its output `vec array<float>`,
    # so the means fold sees float32-funneled values (exact for float32
    # inputs; truncating for double inputs like the supers level) while
    # the assignment itself reads the original vectors — replicate both
    fold_mat = mat64.astype(np.float32).astype(np.float64)
    for _ in range(n_iter):
        best_packed = np.empty(len(mat64), dtype=np.int64)
        for lo in range(0, len(mat64), 1024):  # the kernel's chunk bound
            chunk = mat64[lo : lo + 1024]
            diff = chunk[:, None, :] - cmat[None, :, :]
            sq = np.einsum("ijk,ijk->ij", diff, diff)
            packed = pack_scaled_int(sq) * k + cids
            best_packed[lo : lo + 1024] = packed[
                np.arange(len(chunk)), packed.argmin(axis=1)
            ]
        assigned = best_packed % k
        new_cids, new_cmat = [], []
        for cid in np.unique(assigned):  # ascending; empty clusters drop
            sel = id_order[assigned[id_order] == cid]
            folded = np.cumsum(fold_mat[sel], axis=0)[-1]
            new_cids.append(cid)
            new_cmat.append(folded / float(len(sel)))
        cids = np.asarray(new_cids, dtype=np.int64)
        cmat = np.asarray(new_cmat, dtype=np.float64)
    return cids, cmat


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_max_rows: int | None = None,
) -> DataFrame:
    """The Lloyd refinement loop of ``kmeans_assign``, factored so other
    index builders (IVF's coarse quantizer) can consume the FINAL
    centroid table ``(cid, cvec)`` directly. Seeds are the md5-rank
    sample (seed 'km:'); each iteration is one BLAS assignment (packed-
    min contract) + id-sorted sequential-fold means, exactly the
    construction the chained-CTE oracle (`_kmeans_ctes`) replays.

    SIZE-GATED LOCAL PATH (r11 optimization): when the training input
    fits under ``local_max_rows`` (default ``_KMEANS_LOCAL_MAX``
    = 32768; the probe is one bounded ``limit(cap+1)`` collect), the
    whole loop runs driver-side via ``_kmeans_centroids_local`` —
    bit-identical by construction and by test — instead of paying
    ~3 Spark jobs / ~8 stages of fixed overhead per call on a
    metadata-sized problem. Larger inputs take the distributed loop
    unchanged, so the gate is scale-adaptive, not a local-mode tune:
    a 100 TB corpus trains its quantizer on a bounded sample either
    way (``build_ivf_index`` caps the trainset), and production sets
    the cap by driver memory (~40 MB at the default)."""
    from flink_helloworld_spark.functions import md5_prefix_long, seed_topk

    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    h_expr = md5_prefix_long(F.concat(F.lit("km:"), F.col("id").cast("string")))
    cap = _KMEANS_LOCAL_MAX if local_max_rows is None else local_max_rows
    if n_iter >= 1 and cap > 0:
        probe = v.withColumn("_h", h_expr).limit(cap + 1).collect()
        if len(probe) <= cap:
            cids, cmat = _kmeans_centroids_local(probe, k, n_iter)
            spark = emb.sparkSession
            return spark.createDataFrame(
                [
                    (int(c), [float(x) for x in vec])
                    for c, vec in zip(cids, cmat)
                ],
                "cid int, cvec array<double>",
            )
    cent = seed_topk(
        v.withColumn("_h", h_expr),
        k,
    ).select((F.col("_rn") - 1).alias("cid"), F.col("vec").alias("cvec"))

    for _ in range(n_iter):
        # BLAS step under the identical packed-min contract (collecting
        # the ≤k centroid rows is this iteration's sync point — Lloyd is
        # inherently iterative; the chained-CTE oracle replays the math)
        assigned = _kmeans_assign_blas(v, cent, k)
        comp = assigned.select("cid", "id", F.posexplode("vec").alias("pos", "val"))
        means = (
            comp.groupBy("cid", "pos")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("id", "val"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["val"].cast("double"),
                ).alias("_s"),
                F.count(F.lit(1)).cast("double").alias("_n"),
            )
            .select("cid", "pos", (F.col("_s") / F.col("_n")).alias("m"))
        )
        cent = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
    return cent


def _auto_clusters(emb: DataFrame) -> int:
    """Cluster-count rule for SemDeDup blocking: k = max(8, ⌈N/256⌉),
    i.e. clusters hold ~256 vectors regardless of corpus size, so the
    within-cluster quadratic pair pass stays LINEAR in N (same shape as
    similarity's cell-size-capped IVF rule). At the three test scale
    factors this evaluates to 8, matching the oracle's literal k."""
    import math

    return max(8, math.ceil(emb.count() / 256))


def cluster_balanced_sample(
    emb: DataFrame,
    per_cluster: int = 8,
    k: int | None = None,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced diversity sample — the "diversify" selection
    beside SemDeDup's dedup (the D4-style curation step): k-means the
    corpus embeddings, then keep a fixed quota per cluster, so dense
    regions of embedding space stop dominating the sample and coverage
    is balanced across modes of the data.

    Selection within a cluster is the deterministic md5 rank
    (md5('cbs:' || id)) — a reproducible uniform draw, engine- and
    partitioning-independent, exactly the contract of the text-side
    samplers. Output: ``(vec_id, cluster_id, pick_rank, kept)`` for
    EVERY vector (kept iff pick_rank <= per_cluster), so the verdict
    composes with soft weights / mixture planners downstream.

    Scale shape: clustering is the shared ``kmeans_assign`` machinery
    (``k=None`` applies the ~256-rows-per-cluster cap, so the
    per-cluster rank window sorts ~256 rows — bounded regardless of
    corpus size); the ranking itself is one cluster-keyed window over
    (long, int, long) rows — the embedding never leaves the assignment
    stage. Nothing quadratic, nothing collected.
    """
    from pyspark.sql import Window

    from flink_helloworld_spark.functions import md5_prefix_long

    if k is None:
        k = _auto_clusters(emb)
    assigned = kmeans_assign(
        emb, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cluster_id")
    h = md5_prefix_long(
        F.concat(F.lit("cbs:"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("cluster_id").orderBy(h, F.col(id_col))
    return assigned.select(
        id_col,
        "cluster_id",
        F.row_number().over(w).cast("int").alias("pick_rank"),
        (F.row_number().over(w) <= per_cluster).alias("kept"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.35,
    k: int | None = None,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the
    corpus, then within each cluster drop every vector that has a
    LOWER-id neighbor with cosine ≥ ``threshold`` (greedy keep-first —
    the same canonical rule as the engine's exact/minhash dedup).

    Returns ``(vec_id, cluster_id, is_kept)`` for every vector.

    Scale shape: the pairwise pass is cluster-blocked AND Arrow/BLAS —
    each cluster's similarity matrix is ONE NumPy product inside grouped
    ``applyInPandas`` (replacing a same-cluster self-join of interpreted
    ``zip_with`` dot products that dominated at 10× rows), and
    ``k=None`` applies the ~256-rows-per-cluster cap so that quadratic
    term is linear in N. Cosines are rounded to ``round_dp`` before the
    threshold test, so BLAS summation order agrees with the sequential
    oracle.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if k is None:
        k = _auto_clusters(emb)
    assigned = kmeans_assign(emb, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).join(
        assigned.select(F.col(id_col).alias("id"), "cluster_id"), on="id"
    )

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("cluster_id", IntegerType()),
            StructField("is_kept", BooleanType()),
        ]
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)  # keep-first = lowest id wins
        ids = ids[order]
        mat = np.array(list(pdf["vec"].iloc[order]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = np.inf  # zero vectors never match (oracle: NULL)
        mat_n = mat / norms[:, None]
        sims = round_half_away(mat_n @ mat_n.T, round_dp)
        # dropped[j] ⇔ some lower-id row i<j has sims[i, j] ≥ threshold
        over = np.triu(sims >= threshold, 1)
        dropped = over.any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": pdf["cluster_id"].iloc[0],
                "is_kept": ~dropped,
            }
        )

    return v.groupBy("cluster_id").applyInPandas(per_cluster, schema)


# --- power-iteration PCA -----------------------------------------------------


def _r9(c):
    """Floor-form half-away 9-dp rounding: the identical IEEE op
    sequence in engine and oracle (see pca_power_scores docstring for
    why F.round/round() can't be trusted on exact .5 decimal ties)."""
    return F.signum(c) * F.floor(F.abs(c) * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)


def _centered_exploded(emb: DataFrame, id_col: str, vec_col: str):
    """(_pid, pos, cv): the mean-centered exploded embedding table under
    the floor-form 9-dp ladder — shared by PCA and covariance."""
    v = emb.select(F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pvec"))
    n_rows = v.count()
    ex = v.select("_pid", F.posexplode("_pvec").alias("pos", "_raw")).select(
        "_pid", "pos", F.col("_raw").cast("double").alias("val")
    )
    mu = ex.groupBy("pos").agg(
        _r9(
            F.sum(_r9(F.col("val")).cast("decimal(28,9)")).cast("double")
            / F.lit(float(max(n_rows, 1)))
        ).alias("m")
    )
    centered = ex.join(F.broadcast(mu), "pos").select(
        "_pid", "pos", _r9(F.col("val") - F.col("m")).alias("cv")
    )
    return centered, n_rows


# int64 bound of the per-task nano accumulator: a 1024-row chunk adds at
# most 1024 * 1e11 (|p| <= 100 on the 1e9 lattice) = 1.024e14 to a cell,
# and 2^63 / 1.024e14 ~= 90,000 chunks (~92M rows), so `partials` emits its
# sums as a partial row set and restarts every 65,536 chunks; the
# DECIMAL(38,0) fold sums any number of partials exactly
_NANO_FLUSH_CHUNKS = 65_536


def embedding_covariance(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding table —
    (pos_a, pos_b, cov) for pos_a ≤ pos_b — the ANALYZE pass before
    PCA / whitening / feature-correlation pruning.

    Relational outer product: the centered exploded table self-joins on
    the vector id (each vector contributes its dim·(dim+1)/2
    upper-triangle products) and the per-cell sums are DECIMAL(28,9) of
    9-dp-rounded products — map-side combinable, the same floor-form
    ladder as `pca_power_scores`, hash-exact vs the DuckDB mirror.
    Output is dim²/2 rows regardless of N; the only N-sized exchange is
    the narrow (id, pos, cv) incidence for the join, linear and
    AQE-splittable.

    Shape history: the original relational outer product (centered
    exploded table self-joined on the vector id) measured 3.9s at
    sf0.1 but 31s at the 10× replica with a 0.96 8-vs-32-core ratio —
    the dim² fan-out (N·dim·(dim+1)/2 join rows) dominated and did not
    parallelize. An array-world `transform`-lambda variant was tried in
    r10 and was worse (interpreted lambdas). r12 shape: one
    `mapInPandas` pass accumulates per-task partial sums of the
    9-dp-rounded products ON THE INTEGER NANO LATTICE (each rounded
    product is sign·floor(|p|·1e9+0.5) — an exact int64), so the final
    ≤dim² DECIMAL aggregate of the per-task partials is bit-identical
    to the old row-level DECIMAL(28,9) sum: integer sums are exact and
    associative, and `round_half_away` replays `_r9`'s IEEE op
    sequence (the engine-wide BLAS/oracle parity contract). The 64
    per-dimension means ride in as a bounded broadcast (the
    `_assign_cells_blas` metadata-collect contract). No join, no dim²
    shuffle — two linear corpus passes (mean agg + partials).
    """
    import numpy as np
    import pandas as pd

    v = emb.select(F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pvec"))
    n_rows = v.count()
    ex = v.select(F.posexplode("_pvec").alias("pos", "_raw")).select(
        "pos", F.col("_raw").cast("double").alias("val")
    )
    mu = ex.groupBy("pos").agg(
        _r9(
            F.sum(_r9(F.col("val")).cast("decimal(28,9)")).cast("double")
            / F.lit(float(max(n_rows, 1)))
        ).alias("m")
    )
    # the SQL-computed means, collected (≤dim rows of final ladder
    # values — no replay risk, the exact doubles the old join centered
    # against)
    mu_rows = sorted((r.pos, r.m) for r in mu.collect())
    mu_arr = np.array([m for _, m in mu_rows], dtype=np.float64)
    b_mu = emb.sparkSession.sparkContext.broadcast(mu_arr)

    def partials(batches):
        d = len(b_mu.value)
        iu_a, iu_b = np.triu_indices(d)

        def partial(acc):
            return pd.DataFrame(
                {
                    "pos_a": iu_a.astype(np.int32),
                    "pos_b": iu_b.astype(np.int32),
                    "nano": acc,
                }
            )

        acc = np.zeros(len(iu_a), dtype=np.int64)
        chunks = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["_pvec"]), dtype=np.float64)
            for lo in range(0, len(X), 1024):  # bound the B×dim² block
                C = round_half_away(X[lo:lo + 1024] - b_mu.value[None, :], 9)
                P = C[:, iu_a] * C[:, iu_b]
                # exact nano-lattice integers: sign·floor(|p|·1e9+0.5)
                # IS _r9(p)·1e9 with no re-multiplication error; chunk
                # sums stay exact in float64 (≤1024·1e11 ≪ 2^53) only
                # while |p| ≤ 100 — NaN fails the test too
                if not (np.abs(P) <= 100.0).all():
                    raise ValueError(
                        "embedding_covariance: a centered product is "
                        "non-finite or above 100 in magnitude, outside "
                        "the exact nano-lattice range"
                    )
                nano = np.sign(P) * np.floor(np.abs(P) * 1e9 + 0.5)
                acc += nano.sum(axis=0).astype(np.int64)
                chunks += 1
                if chunks == _NANO_FLUSH_CHUNKS:
                    yield partial(acc)
                    acc = np.zeros(len(iu_a), dtype=np.int64)
                    chunks = 0
        if chunks:
            yield partial(acc)

    parts = v.select("_pvec").mapInPandas(
        partials, "pos_a int, pos_b int, nano long"
    )
    return (
        parts.groupBy("pos_a", "pos_b")
        .agg(F.sum(F.col("nano").cast("decimal(38,0)")).alias("_sn"))
        .select(
            "pos_a",
            "pos_b",
            _r9(
                (F.col("_sn").cast("decimal(38,9)") / F.lit(1_000_000_000))
                .cast("double")
                / F.lit(float(max(n_rows, 1)))
            ).alias("cov"),
        )
    )


def embedding_standardize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension z-scores of the embedding table — (vec_id, pos, z)
    with z = (x − μ_pos)/σ_pos — the standardization pass before
    distance-based ops when dimensions carry different scales
    (σ from the biased variance, matching `embedding_covariance`'s
    diagonal). Zero-variance dimensions standardize to 0.0 rather than
    NULL/inf (a constant column carries no signal).

    Same floor-form 9-dp ladder as the rest of the embedding-prep
    family; μ/σ are a 64-row broadcast, the z projection is shuffle-free
    over the exploded table. Output is exploded (one row per dimension)
    so the contract stays hash-comparable across engines.
    """
    centered, n_rows = _centered_exploded(emb, id_col, vec_col)
    stats = centered.groupBy("pos").agg(
        _r9(
            F.sum(_r9(F.col("cv") * F.col("cv")).cast("decimal(28,9)"))
            .cast("double")
            / F.lit(float(max(n_rows, 1)))
        ).alias("var")
    )
    sd = _r9(F.sqrt(F.col("var")))
    z = F.when(sd > 0, _r9(F.col("cv") / sd)).otherwise(F.lit(0.0))
    return (
        centered.join(F.broadcast(stats), "pos")
        .select(
            F.col("_pid").alias(id_col),
            "pos",
            z.alias("z"),
        )
    )


def pca_power_scores(
    emb: DataFrame,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top-principal-direction PCA scores by DISTRIBUTED power iteration
    — the dimensionality-reduction stage an embedding pipeline runs
    before whitening / visualization / drift checks. Returns
    ``(vec_id, pc1)``: each vector's projection onto the first principal
    direction of the mean-centered corpus after ``n_iter`` fixed
    matvec+normalize steps from the uniform start v0 = 0.125·1.

    The covariance matrix is never materialized: each step is
    v ← normalize(Cv) computed as the two matvecs s = Xc·v (per-row dot)
    and u = Xcᵀ·s (per-dimension agg) over the centered exploded table —
    both DECIMAL(28,9) sums of 9-dp-rounded products, so every partial
    is map-side combinable and partitioning-independent (the classifier
    gradient contract). Driver traffic is ``dim`` numbers per iteration
    (the kmeans centroid-sync shape); normalize runs driver-side with
    the same half-away 9-dp ladder, so the next iteration's v enters
    both engines bit-identical. The DuckDB oracle replays every
    iteration as chained CTEs.

    Rounding rule: every 9-dp step uses the FLOOR-form half-away
    ``sign(x)·floor(|x|·1e9 + 0.5)/1e9`` (``_r9`` here, the same SQL in
    the oracle, ``_round9`` on the driver) rather than F.round/round().
    F.round routes through BigDecimal's decimal-string HALF_UP while
    DuckDB rounds in scaled float math — on the exact .5 decimal ties
    this pipeline hits constantly (cv·0.125 products have 12-dp decimal
    values ending in 500), the two disagree by 1e-9 and the drift
    compounds through iterations. The floor form runs the identical
    IEEE op sequence in both engines, so ties break identically by
    construction (measured: 76/500 s-values diverged under F.round,
    0 under the floor form).

    Scale shape: the exploded table is N·dim (long, int, double) rows —
    text/vector payloads never shuffle twice; one localCheckpoint lets
    the 2·n_iter+1 passes reuse the centering instead of re-reading the
    scan. A zero-variance corpus (norm 0) stops iterating and scores 0.
    """
    from flink_helloworld_spark.operators.classifier import _round9

    centered, _ = _centered_exploded(emb, id_col, vec_col)
    centered = centered.localCheckpoint()

    def vj_expr(w: list[float]):
        return F.element_at(F.array(*[F.lit(x) for x in w]), F.col("pos") + 1)

    def dot_scores(w: list[float]) -> DataFrame:
        return centered.groupBy("_pid").agg(
            _r9(
                F.sum(
                    _r9(F.col("cv") * vj_expr(w)).cast("decimal(28,9)")
                ).cast("double")
            ).alias("s")
        )

    w = [0.125] * dim
    for _ in range(n_iter):
        s = dot_scores(w)
        u_rows = (
            centered.join(s, "_pid")
            .groupBy("pos")
            .agg(
                _r9(
                    F.sum(
                        _r9(F.col("cv") * F.col("s")).cast("decimal(28,9)")
                    ).cast("double")
                ).alias("u")
            )
            .collect()  # dim numbers per iteration, like Lloyd centroids
        )
        u = [0.0] * dim
        for r in u_rows:
            u[r["pos"]] = float(r["u"])
        # exact decimal sum of the 9-dp-rounded squares (mirrors the
        # oracle's sum(round(u*u,9)::DECIMAL) -> ::DOUBLE -> sqrt ladder)
        from decimal import Decimal

        nrm2 = sum((Decimal(repr(_round9(x * x))) for x in u), Decimal(0))
        import math

        nrm = _round9(math.sqrt(float(nrm2)))
        if nrm == 0.0:
            break
        w = [_round9(x / nrm) for x in u]

    return dot_scores(w).select(F.col("_pid").alias(id_col), F.col("s").alias("pc1"))
