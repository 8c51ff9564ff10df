"""Deterministic sampling & splitting (training-data pipeline surface).

A 100 TB corpus pipeline needs samples and train/holdout splits that are
(a) reproducible across runs and engines, (b) computable without a
shuffle, and (c) stratifiable. Spark's ``df.sample`` is none of these
(seeded per-partition RNG → changes under repartitioning). These
operators hash a stable id column with md5 instead: a pure per-row
filter — no shuffle, no state, pushes down past column pruning — and the
DuckDB oracles replay the exact same arithmetic.

Hash contract (memory-portable across this repo): bucket =
md5(prefix || id) first 15 hex chars as a bigint, mod ``buckets``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_helloworld_spark.functions import md5_prefix_long

BUCKETS = 10_000


def _hash_bucket(col: Column, salt: str) -> Column:
    return F.pmod(md5_prefix_long(col.cast("string"), salt), F.lit(BUCKETS))


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by id hash — same rows every
    run, every engine, every partitioning."""
    return df.where(_hash_bucket(F.col(id_col), salt) < int(fraction * BUCKETS))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 10% of English, 100% of low-resource languages). ``fractions``
    maps stratum value → keep fraction; unlisted strata use
    ``default_fraction``."""
    thresh = F.lit(int(default_fraction * BUCKETS))
    for value, frac in fractions.items():
        thresh = F.when(
            F.col(strata_col) == value, F.lit(int(frac * BUCKETS))
        ).otherwise(thresh)
    return df.where(_hash_bucket(F.col(id_col), salt) < thresh)


def train_holdout_split(
    df: DataFrame, id_col: str, holdout_fraction: float = 0.01, salt: str = "split"
) -> DataFrame:
    """Tag every row 'train' or 'holdout' by id hash: disjoint,
    exhaustive, and stable as the corpus grows (a doc never migrates
    between splits when other docs are added — the property random
    splits lack)."""
    cut = int(holdout_fraction * BUCKETS)
    return df.withColumn(
        "split",
        F.when(_hash_bucket(F.col(id_col), salt) < cut, F.lit("holdout")).otherwise(
            F.lit("train")
        ),
    )


def mixture_quota_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    quotas: dict[str, int],
    default_quota: int = 0,
    salt: str = "mix",
) -> DataFrame:
    """Fixed-COUNT mixture building: exactly min(quota, N) rows per
    stratum, chosen in md5-hash order — how a training mixture spec
    ("50k docs of en, 40k of de, ...") is materialized reproducibly.

    One shuffle (rank within stratum); the hash order makes the pick
    stable under reruns and engine changes, and prefix-consistent:
    raising a quota only ADDS rows, never swaps earlier picks.
    """
    from pyspark.sql import Window

    h = _hash_bucket(F.col(id_col), salt)
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    quota = F.lit(default_quota)
    for value, q in quotas.items():
        quota = F.when(F.col(strata_col) == value, F.lit(q)).otherwise(quota)
    return (
        df.withColumn("pick_rank", F.row_number().over(w).cast("int"))
        .where(F.col("pick_rank") <= quota)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    capacity: int = 2048,
    shards: int = 16,
    salt: str = "pack",
) -> DataFrame:
    """GPT-style concat-and-chunk packing plan: docs are shuffled into a
    deterministic md5 order, concatenated, and the token stream is cut
    every ``capacity`` tokens. Emits, per doc, which chunk its first
    token lands in and whether it straddles a cut.

    Sharded so the running sum is a per-shard window (one shuffle on the
    shard key, ~uniform by md5): at 100 TB each shard packs
    independently — the global-concatenation order no executor could
    hold is never materialized.

    Extra input columns PASS THROUGH unchanged (so a composed caller —
    ``epoch_pack_stream`` — carries its labels through the pack window
    instead of re-deriving its whole upstream plan for a join-back);
    ``token_count_col`` is normalized to ``n_tokens`` in the output.
    """
    from pyspark.sql import Window

    h = _hash_bucket(F.col(id_col), salt)
    shard = F.pmod(h, F.lit(shards))
    w = (
        Window.partitionBy("shard")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = F.col(token_count_col).cast("long")
    start = F.coalesce(F.sum(toks).over(w), F.lit(0).cast("long"))
    keep = [c for c in df.columns if c != token_count_col]
    out = (
        df.select(
            *keep,
            toks.alias("n_tokens"),
            h.alias("h"),
            shard.cast("int").alias("shard"),
        )
        .withColumn("start_offset", start)
        .withColumn("chunk_id", F.expr(f"start_offset DIV {capacity}"))
        .withColumn(
            "spans_boundary",
            (F.col("n_tokens") > 0)
            & (
                F.expr(f"(start_offset + n_tokens - 1) DIV {capacity}")
                != F.col("chunk_id")
            ),
        )
        .drop("h")
    )
    return out


def domain_cap(
    docs: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "domcap",
) -> DataFrame:
    """Per-domain document cap — the standard pretraining-mixture guard
    against one crawl source flooding the corpus: keep at most ``cap``
    docs per domain, chosen by deterministic md5 order (portable, no
    RNG state), never by arrival order (which is partitioning-dependent).

    Returns every row with its in-domain md5 rank and a ``kept`` flag —
    callers filter ``kept`` (returning flags keeps the op auditable: the
    drop RATE per domain is the useful signal upstream).

    Scale shape: one hash shuffle on the domain + a per-domain window
    sort. Domains are naturally many and md5 ranks uniform; a single
    mega-domain degrades to that domain's sort, which AQE skew handling
    splits — and the cap itself is what removes the skew downstream.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(
        _hash_bucket(F.col(id_col).cast("string"), salt), F.col(id_col)
    )
    return docs.select(
        id_col,
        domain_col,
        F.row_number().over(w).alias("domain_rank"),
    ).withColumn("kept", F.col("domain_rank") <= cap)


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Mixture FEASIBILITY planning: given target mixture weights and a
    total token budget, report per source what the corpus can actually
    deliver — available tokens, the target, the deterministic sampling
    rate ``min(1, target/available)``, achieved tokens, and the deficit
    when a source runs dry (the Pile/Dolma recipe-sheet math, computed
    from the data instead of assumed).

    Sources absent from ``weights`` get weight 0 (reported, not
    sampled); a weighted source absent from the corpus simply yields no
    row — the deficit for it is the full target, visible because
    achieved < budget in the output sum.

    Scale shape: ONE map-side-combinable aggregation over the corpus
    (token counting is a codegen split/size) to a row per source —
    driver never sees documents, and the plan output is small enough to
    feed the actual samplers (``deterministic_sample`` rate per source,
    or ``mixture_quota_sample`` after dividing by mean doc length).
    """
    from flink_helloworld_spark.operators.text import _words

    w = F.lit(0.0)
    for value, wt in weights.items():
        w = F.when(F.col(strata_col) == value, F.lit(float(wt))).otherwise(w)
    per_source = (
        docs.select(
            F.col(strata_col),
            F.size(_words(F.col(text_col))).cast("long").alias("_tok"),
        )
        .groupBy(strata_col)
        .agg(F.sum("_tok").alias("available_tokens"))
    )
    target = w * F.lit(float(budget_tokens))
    # guard BEFORE least(): Spark's least() SKIPS nulls, so feeding it
    # the nullif-ed division would report rate 1.0 for a source with
    # zero available tokens instead of "nothing to sample"
    rate = F.when(
        F.col("available_tokens") > 0,
        F.least(
            F.lit(1.0),
            target / F.col("available_tokens").cast("double"),
        ),
    ).otherwise(F.lit(0.0))
    achieved = F.least(target, F.col("available_tokens").cast("double"))
    return per_source.select(
        strata_col,
        "available_tokens",
        target.alias("target_tokens"),
        rate.alias("sample_rate"),
        achieved.alias("achieved_tokens"),
        (target - achieved).alias("deficit_tokens"),
    )


def mixture_temperature(
    docs: DataFrame,
    alpha: float,
    budget_tokens: int,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture planning: target share per source
    ∝ available_tokens**alpha (alpha=1 → natural proportions, alpha→0 →
    uniform) — the multilingual/multi-domain up-sampling rule (mBERT /
    XLM / mT5 exponential smoothing), computed FROM the corpus instead
    of hand-written into a `mixture_plan` weights dict.

    Output per source: available_tokens, mix_share, target_tokens,
    sample_rate = min(1, target/available), achieved_tokens. Feed
    sample_rate to `deterministic_sample` per source to materialize.

    Determinism contract: pow() results round to 9 dp before the share
    division (the engine-portable float ladder, same as the LM scorers);
    the share denominator is an exact DECIMAL sum riding as a broadcast
    1-row agg crossJoin — one map-side-combinable pass over the corpus,
    a |sources|-row plan after it, driver never sees documents.
    """
    from flink_helloworld_spark.operators.text import _words

    per_source = (
        docs.select(
            F.col(strata_col),
            F.size(_words(F.col(text_col))).cast("long").alias("_tok"),
        )
        .groupBy(strata_col)
        .agg(F.sum("_tok").alias("available_tokens"))
    )
    pw = F.round(
        F.pow(F.col("available_tokens").cast("double"), F.lit(float(alpha))), 9
    )
    weighted = per_source.select(
        strata_col,
        "available_tokens",
        pw.cast("decimal(28,9)").alias("_pw"),
    )
    total = weighted.agg(F.sum("_pw").alias("_pw_total"))
    share = F.round(
        F.col("_pw").cast("double") / F.col("_pw_total").cast("double"), 9
    )
    with_share = weighted.crossJoin(F.broadcast(total)).select(
        strata_col, "available_tokens", share.alias("mix_share")
    )
    target = F.round(F.col("mix_share") * F.lit(float(budget_tokens)), 9)
    rate = F.when(
        F.col("available_tokens") > 0,
        F.least(F.lit(1.0), target / F.col("available_tokens").cast("double")),
    ).otherwise(F.lit(0.0))
    achieved = F.least(target, F.col("available_tokens").cast("double"))
    return with_share.select(
        strata_col,
        "available_tokens",
        "mix_share",
        target.alias("target_tokens"),
        rate.alias("sample_rate"),
        achieved.alias("achieved_tokens"),
    )


def reservoir_key(id_col: str, weight_col: str, salt: str = "wres") -> Column:
    """The ONE definition of the A-ES exponential-race key (shared by
    the batch sampler and its streaming twin, whose contract is a
    bit-identical final reservoir): key = round(-ln(u)/w, 9) with
    u = (md5-60bit + 0.5) / 2^60 — computed as a Spark column so every
    consumer scores with the exact same doubles."""
    h = md5_prefix_long(F.col(id_col).cast("string"), salt).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(16**15))
    return F.round(-F.log(u) / F.col(weight_col).cast("double"), 9)


def weighted_reservoir_sample(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    id_col: str,
    k: int = 5,
    salt: str = "wres",
) -> DataFrame:
    """Weighted reservoir sampling without replacement, k per stratum —
    Efraimidis & Spirakis (2006) A-ES: each row draws key = -ln(u)/w
    with u from md5(id), and the k SMALLEST keys per stratum win; that
    is exactly a weight-proportional sample, reproducible across runs,
    engines and partitionings (the distributed/streaming-safe form of
    "pick k docs per domain proportional to token count").

    Scale shape: one codegen key projection + one rank window per
    stratum. The window shuffles by stratum; a single mega-stratum
    makes one fat sort partition — at that point split the stratum by a
    salt prefix, take per-split top-k, re-rank the k·splits survivors
    (same two-phase trick as salted_sum). Keys round to 9 dp; rank ties
    break on the id, so the sample is total-order deterministic.

    Rows with weight <= 0 or NULL are excluded (they can never be
    sampled under weight-proportional semantics).
    """
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    keyed = df.where(w > 0).withColumn(
        "res_key", reservoir_key(id_col, weight_col, salt)
    )
    rank = F.row_number().over(
        Window.partitionBy(strata_col).orderBy("res_key", id_col)
    )
    return (
        keyed.withColumn("res_rank", rank)
        .where(F.col("res_rank") <= k)
        .select(id_col, strata_col, weight_col, "res_key", "res_rank")
    )


def epoch_repetition_plan(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    r_star: float = 15.39,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-CONSTRAINED mixture planning — the repeat-the-data
    counterpart of ``mixture_plan`` (which only samples DOWN): when a
    source's target allocation exceeds its unique tokens, the trainer
    repeats it for multiple epochs, and repeated tokens are worth less
    than fresh ones. Muennighoff et al. 2023 ("Scaling Data-Constrained
    Language Models") fit that decay: with U unique tokens repeated R
    times, the EFFECTIVE data is

        D' = U + U · R*· (1 − exp(−R / R*)),   R* ≈ 15.39

    (fresh-token-equivalent value; ~full value through the first few
    epochs, asymptoting at U·(1+R*)). Per source this reports: unique
    tokens, the weighted target, epochs = target/unique, effective
    tokens under the decay, and utilization = effective/target — the
    numbers that decide whether to re-weight the mixture or go get
    more data BEFORE burning the compute.

    Under-allocated sources (epochs ≤ 1) use only fresh tokens:
    effective = target, utilization 1. The one transcendental
    (exp) rides the engine's 9-dp floor-form ladder — the same
    JVM-vs-libm agreement contract the ln()-based ops pin.

    Scale shape: identical to ``mixture_plan`` — ONE map-side
    combinable token-count aggregate to a row per source; the decay
    arithmetic runs on that handful of rows.
    """
    from flink_helloworld_spark.operators.clustering import _r9
    from flink_helloworld_spark.operators.text import _words

    w = F.lit(0.0)
    for value, wt in weights.items():
        w = F.when(F.col(strata_col) == value, F.lit(float(wt))).otherwise(w)
    per_source = (
        docs.select(
            F.col(strata_col),
            F.size(_words(F.col(text_col))).cast("long").alias("_tok"),
        )
        .groupBy(strata_col)
        .agg(F.sum("_tok").alias("unique_tokens"))
        .select(
            strata_col,
            "unique_tokens",
            w.alias("weight"),
            _r9(w * F.lit(float(budget_tokens))).alias("target_tokens"),
        )
    )
    u = F.col("unique_tokens").cast("double")
    epochs = _r9(
        F.when(F.col("unique_tokens") > 0, F.col("target_tokens") / u)
    )
    reps = F.greatest(F.col("epochs") - F.lit(1.0), F.lit(0.0))
    decayed = _r9(
        u
        * (
            F.lit(1.0)
            + F.lit(float(r_star))
            * (
                F.lit(1.0)
                - _r9(F.exp(-reps / F.lit(float(r_star))))
            )
        )
    )
    eff = F.when(F.col("epochs") <= 1.0, F.col("target_tokens")).otherwise(
        decayed
    )
    return (
        per_source.withColumn("epochs", epochs)
        .withColumn("effective_tokens", eff)
        .withColumn(
            "utilization",
            _r9(
                F.when(
                    F.col("target_tokens") > 0,
                    F.col("effective_tokens") / F.col("target_tokens"),
                )
            ),
        )
    )


def mixture_reallocate(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    r_star: float = 15.39,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Budget REALLOCATION — the allocator that closes the Muennighoff
    loop: ``epoch_repetition_plan`` prices repetition and
    ``mixture_plan`` samples down, but neither moves surplus from a
    SATURATED source (target > unique tokens, where repeated epochs
    are worth exponentially less) to under-used ones. This operator
    re-splits the same total budget to maximize total EFFECTIVE tokens
    under the Scaling-Data-Constrained decay
    D'(U, T) = U + U·R*·(1 − exp(−(T/U − 1)/R*)) for T > U (= T below).

    D' is concave and increasing with marginal value 1 up to U and
    exp(−R/R*) beyond, so the optimum is classic WATER-FILLING — and
    because the marginal is continuous, it has a CLOSED FORM per
    regime (no iteration; the fixpoint the iterative clamp/
    redistribute loop converges to, computed in one windowed scan):

    - ``budget ≥ ΣU`` (every weighted source saturates): equal
      marginals ⇔ equal epochs ⇔ targets ∝ U: T_s = U_s · B/ΣU.
    - ``budget < ΣU``: fill fresh tokens only, honoring the mixture
      ratios until a source runs dry: T_s = min(U_s, w_s·λ) with the
      water level λ solving Σ T_s = B. Sources saturate in increasing
      order of capacity-per-weight r_s = U_s/w_s, so the saturated set
      is a PREFIX of the r-sorted rows: row s saturates iff
      cumU_<s + r_s·(W − cumW_<s) ≤ B (that test is nondecreasing in
      s), and λ = (B − Σ_sat U)/(W − Σ_sat w). One window pass + two
      1-row broadcast aggregates on the per-source frame.

    Every reallocated total-effective is ≥ the naive w·B plan's
    PROVIDED the weights are a true mixture (Σw ≤ 1, so the naive
    split is feasible for the same concave program — an over-unity
    weights dict overspends the budget and can "beat" any feasible
    allocation); the output reports both so the gain is visible per
    source.

    Determinism: integer cumulative sums for U, DECIMAL(28,9) sums for
    the weight prefixes (order-free), doubles only in the per-row
    ratio/level arithmetic, every emitted value on the 9-dp floor-form
    ladder — hash-exact against the chained-CTE DuckDB oracle.

    Scale shape: ONE map-side-combinable token-count aggregate over
    the corpus; the allocator runs on the |sources|-row frame (global
    window over ≤ sources rows, two broadcast scalar aggregates) —
    driver never sees documents, and nothing here grows with corpus
    size (a million sources would still be one tiny exchange).

    Output per source: (source, unique_tokens, weight, naive_target,
    naive_effective, realloc_target, epochs, effective_tokens,
    gain_tokens).
    """
    from pyspark.sql import Window

    from flink_helloworld_spark.operators.clustering import _r9
    from flink_helloworld_spark.operators.text import _words

    B = float(budget_tokens)
    w = F.lit(0.0)
    for value, wt in weights.items():
        w = F.when(F.col(strata_col) == value, F.lit(float(wt))).otherwise(w)
    # Quantize every weight to the 9-dp ladder ONCE at entry. The
    # weight prefix sums below are DECIMAL(28,9) (9-dp-quantized) but
    # the per-row w·λ target would otherwise use the full double — so
    # the water level λ = (B−ΣU_sat)/(W−W_sat) would be computed
    # against quantized weights while targets use unquantized ones,
    # and the ~5e-10 quantization error is amplified by λ (21× for
    # w = 1/21): budget conservation then misses the property's own
    # n·1e-8 ladder bound (hypothesis counterexample
    # {s0: 1/21, s1: 20/21}, budget 1). With w on the ladder, the
    # decimal cast is exact and w·λ conserves to ulps.
    w = _r9(w)
    per = (
        docs.select(
            F.col(strata_col),
            F.size(_words(F.col(text_col))).cast("long").alias("_tok"),
        )
        .groupBy(strata_col)
        .agg(F.sum("_tok").alias("unique_tokens"))
        .select(
            strata_col,
            "unique_tokens",
            w.alias("weight"),
            _r9(w * F.lit(B)).alias("naive_target"),
        )
    )

    def _effective(target: Column) -> Column:
        # the epoch_repetition_plan decay, applied to any target column
        u = F.col("unique_tokens").cast("double")
        epochs = _r9(F.when(F.col("unique_tokens") > 0, target / u))
        reps = F.greatest(epochs - F.lit(1.0), F.lit(0.0))
        decayed = _r9(
            u
            * (
                F.lit(1.0)
                + F.lit(float(r_star))
                * (F.lit(1.0) - _r9(F.exp(-reps / F.lit(float(r_star)))))
            )
        )
        return F.when(epochs <= 1.0, target).otherwise(decayed)

    act = per.where(F.col("weight") > 0).select(
        strata_col,
        "unique_tokens",
        "weight",
        (
            F.col("unique_tokens").cast("double") / F.col("weight")
        ).alias("_ratio"),
    )
    tot = act.agg(
        F.sum("unique_tokens").alias("_tot_u"),
        F.sum(F.col("weight").cast("decimal(28,9)")).alias("_tot_w"),
    )
    # ≤ |sources| rows: the single-partition window is the POINT — the
    # allocator must scan the prefix in capacity-per-weight order
    win = Window.orderBy("_ratio", strata_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    scanned = (
        act.crossJoin(F.broadcast(tot))
        .withColumn(
            "_cu", F.coalesce(F.sum("unique_tokens").over(win), F.lit(0))
        )
        .withColumn(
            "_cw",
            F.coalesce(
                F.sum(F.col("weight").cast("decimal(28,9)")).over(win),
                F.lit(0).cast("decimal(28,9)"),
            ),
        )
        .withColumn(
            "_sat",
            (
                F.col("_cu").cast("double")
                + F.col("_ratio")
                # cast EACH decimal operand to double BEFORE the
                # subtraction: the sums widen decimal(28,9) →
                # decimal(38,9), and a decimal(38,9)−decimal(38,9)
                # needs precision 39, so Spark's precision-loss rule
                # silently drops the result to scale 8 — one lost
                # digit that λ amplifies (the 4.2e-8 budget miss in
                # the hypothesis counterexample). The operands are
                # exact 9-dp ladder sums, so cast-then-subtract is
                # correctly rounded IEEE on both engine and oracle.
                * (
                    F.col("_tot_w").cast("double")
                    - F.col("_cw").cast("double")
                )
            )
            <= F.lit(B),
        )
    )
    cut = scanned.agg(
        F.coalesce(
            F.sum(F.when(F.col("_sat"), F.col("unique_tokens"))), F.lit(0)
        ).alias("_sat_u"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_sat"), F.col("weight").cast("decimal(28,9)")
                )
            ),
            F.lit(0).cast("decimal(28,9)"),
        ).alias("_sat_w"),
    )
    # same cast-before-subtract as _sat: decimal(38,9) subtraction
    # would lose the 9th digit of the water-level denominator
    lam = (F.lit(B) - F.col("_sat_u").cast("double")) / (
        F.col("_tot_w").cast("double") - F.col("_sat_w").cast("double")
    )
    realloc = (
        scanned.crossJoin(F.broadcast(cut))
        .withColumn(
            "realloc_target",
            F.when(
                # tot_u > 0 guard: with zero capacity everywhere the
                # rows fall through to the sat branch (T = U = 0) —
                # and keeps the ANSI divide-by-zero out of the plan
                (F.lit(B) >= F.col("_tot_u").cast("double"))
                & (F.col("_tot_u") > 0),
                # up-case: equal epochs, targets ∝ U
                _r9(
                    F.col("unique_tokens").cast("double")
                    * F.lit(B)
                    / F.col("_tot_u").cast("double")
                ),
            ).otherwise(
                F.when(
                    F.col("_sat"),
                    F.col("unique_tokens").cast("double"),
                ).otherwise(
                    _r9(
                        F.least(
                            F.col("unique_tokens").cast("double"),
                            F.col("weight") * lam,
                        )
                    )
                )
            ),
        )
        .select(strata_col, "realloc_target")
    )
    out = per.join(realloc, strata_col, "left").select(
        strata_col,
        "unique_tokens",
        "weight",
        "naive_target",
        F.coalesce("realloc_target", F.lit(0.0)).alias("realloc_target"),
    )
    u = F.col("unique_tokens").cast("double")
    epochs = _r9(
        F.when(F.col("unique_tokens") > 0, F.col("realloc_target") / u)
    )
    return (
        out.withColumn("naive_effective", _effective(F.col("naive_target")))
        .withColumn("epochs", epochs)
        .withColumn(
            "effective_tokens", _effective(F.col("realloc_target"))
        )
        .withColumn(
            "gain_tokens",
            _r9(
                F.coalesce(F.col("effective_tokens"), F.lit(0.0))
                - F.coalesce(F.col("naive_effective"), F.lit(0.0))
            ),
        )
    )


def epoch_materialize(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    r_star: float = 15.39,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """MATERIALIZE the data-constrained plan — the step after
    ``mixture_reallocate`` prices it: emit the actual (doc, epoch)
    training stream the reallocated budget prescribes. Every weighted
    source runs ``floor(epochs)`` FULL passes over its documents
    (epoch 0..k−1), then a FRACTIONAL pass (epoch k) over a
    deterministic md5-ranked token-prefix of the source sized to the
    leftover target ``realloc_target − k·U`` — so the materialized
    token count tracks the plan per source to one document's
    granularity, and reruns/engines agree row-for-row (the
    'kmt:'-seed doctrine, salt ``'em:'``).

    Output: ``(doc_id, source, epoch)`` — feed it to
    ``training_order``/``pack_sequences`` for the final stream; the
    row count is Σ_s (⌈epochs_s⌉ × |docs_s|)-bounded, budget-sized by
    construction.

    Scale shape: the plan join broadcasts (≤ sources rows); full
    epochs are one bounded ``sequence`` explode; the fractional pass
    is a per-source token cumsum window — the quota-sampler pattern
    (a source IS a stratum; at extreme per-source cardinality the
    two-pass threshold estimate replaces the window, same rows out).
    """
    return _epoch_materialize_tok(
        docs, weights, budget_tokens, r_star, strata_col, text_col
    ).select("doc_id", strata_col, "epoch")


def _epoch_materialize_tok(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    r_star: float = 15.39,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """``epoch_materialize`` with the per-doc token count CARRIED
    THROUGH (``_tok``): the materialize pass already tokenizes every
    document to place the fractional-epoch cutoff, so composites that
    need instance sizes downstream (``epoch_pack_stream``) read them
    here instead of re-scanning + re-tokenizing the corpus and paying
    a doc_id join-back (guide §2.3 'don't recompute what you throw
    away' / §2.4 — one fewer scan, one fewer shuffle; r11)."""
    from pyspark.sql import Window

    from flink_helloworld_spark.operators.text import _words

    plan = mixture_reallocate(
        docs, weights, budget_tokens, r_star, strata_col, text_col
    ).select(strata_col, "unique_tokens", "realloc_target", "epochs")
    tok = docs.select(
        strata_col,
        "doc_id",
        F.size(_words(F.col(text_col))).cast("long").alias("_tok"),
        md5_prefix_long(F.col("doc_id").cast("string"), "em:").alias("_h"),
    )
    # j feeds BOTH output branches (full epochs + fractional pass);
    # persisting it runs the docs scan + tokenize + allocator join once
    # instead of once per branch (intra-plan reuse, guide §2.4/§5)
    from flink_helloworld_spark.operators._cache import share

    j = share(tok.join(F.broadcast(plan), strata_col))
    k = F.floor(F.coalesce(F.col("epochs"), F.lit(0.0))).cast("long")
    full = j.where(k > 0).select(
        "doc_id",
        strata_col,
        F.explode(
            F.sequence(F.lit(0).cast("long"), k - F.lit(1).cast("long"))
        ).alias("epoch"),
        "_tok",
    )
    w = (
        Window.partitionBy(strata_col)
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t_part = F.col("realloc_target") - k.cast("double") * F.col(
        "unique_tokens"
    ).cast("double")
    partial = (
        j.withColumn(
            "_cum", F.coalesce(F.sum("_tok").over(w), F.lit(0))
        )
        .where(F.col("_cum").cast("double") < t_part)
        .select("doc_id", strata_col, k.alias("epoch"), "_tok")
    )
    return full.unionByName(partial)


def epoch_pack_stream(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    r_star: float = 15.39,
    capacity: int = 2048,
    shards: int = 8,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The selection loop CLOSED end-to-end — allocator to trainer
    stream in one composed plan (the ``corpus_manifest`` fusion
    pattern): ``mixture_reallocate`` prices the budget,
    ``epoch_materialize`` emits the (doc, epoch) instances it
    prescribes, and ``pack_sequences`` concat-and-chunks those
    instances into ``capacity``-token bins — so what comes out is the
    actual packed, ordered training stream the reallocated budget
    buys, not three artifacts a user must re-join.

    Each (doc, epoch) instance packs as its own unit (``unit_id =
    epoch:doc_id`` — the repetition epochs of a data-constrained run
    are distinct training units, shuffled apart by the md5 order so an
    epoch's copies don't pack adjacently).

    Output per instance: (doc_id, source, epoch, n_tokens, shard,
    start_offset, chunk_id, spans_boundary). Token accounting is
    inherited: per source, Σ n_tokens tracks ``realloc_target`` to one
    document's granularity (test-pinned), and per shard the offsets
    are gapless cumulative sums.

    Scale shape: the three stages compose without a new hot spot —
    one corpus token-count agg (the allocator), the bounded epoch
    explode, then ONE md5-shard pack window over the labeled units
    (``pack_sequences`` passes (doc_id, source, epoch) through, so the
    upstream plan is evaluated once — no join-back). Instance sizes
    ride out of the materialize pass itself (``_epoch_materialize_tok``
    carries the per-doc token count it already computes), so the corpus
    is tokenized TWICE total (allocator agg + materialize), not three
    times, and the former doc_id join-back shuffle is gone (r11,
    guide §2.3/§2.4)."""
    mat = _epoch_materialize_tok(
        docs, weights, budget_tokens, r_star, strata_col, text_col
    ).withColumnRenamed("_tok", "n_tokens")
    units = mat.select(
        F.concat(
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        ).alias("unit_id"),
        "doc_id",
        strata_col,
        "epoch",
        "n_tokens",
    )
    return pack_sequences(
        units,
        "unit_id",
        "n_tokens",
        capacity=capacity,
        shards=shards,
        salt="empack",
    ).select(
        "doc_id",
        strata_col,
        "epoch",
        "n_tokens",
        "shard",
        "start_offset",
        "chunk_id",
        "spans_boundary",
    )
