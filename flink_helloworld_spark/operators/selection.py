"""Data-selection operators: DSIR importance resampling and CCNet-style
perplexity bucketing.

The two published techniques a 100 TB pretraining pipeline uses to pick
WHICH cleaned documents to train on (the dedup/filter family decides
which to drop; this family ranks what's left):

- DSIR (Xie et al., NeurIPS 2023, "Data Selection for Language Models
  via Importance Resampling"): score every raw-pool document by the
  log-likelihood ratio of a hashed-n-gram bag model fit on a small
  target corpus vs one fit on the raw pool, then Gumbel-top-k sample.
  The whole model is a fixed-size bucket table (``N_BUCKETS`` rows) —
  broadcastable no matter how big the corpus is.
- CCNet (Wenzek et al., 2020) perplexity bucketing: per language, split
  documents into head/middle/tail terciles by LM perplexity; the
  head/middle slices become the training pool.

Engine-portable determinism follows the repo contract: per-token float
terms rounded to 9 dp and summed as DECIMAL(28,9) (order-independent),
final per-doc values one double op rounded to 6 dp, hashes via md5.

Reference anchor: the reference repo's quality surface stops at
word-level scoring (`StateTest.java` aggregations); these operators are
north-star additions per SURVEY §2 "beyond-reference LLM-data surface".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_helloworld_spark.functions import md5_prefix_long

from .text import _words, unigram_logppl

# Hashed-n-gram feature space for DSIR. Fixed size => the fitted model
# is ALWAYS a 1024-row table regardless of corpus size: it broadcasts,
# and the per-token scoring join is a map-side hash probe.
N_BUCKETS = 1024
_SALT = "dsir"


def _bucket_expr(w):
    """md5-hashed feature bucket in [0, N_BUCKETS): first 15 hex chars
    (60 bits, fits a nonneg BIGINT in every engine) mod N_BUCKETS."""
    return F.pmod(md5_prefix_long(w, _SALT), F.lit(N_BUCKETS))


def dsir_weights(
    docs: DataFrame,
    target_source: str = "src0",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document DSIR importance log-weight.

    Documents from ``target_source`` form the target distribution; every
    OTHER document is the raw pool being scored. Fit two Laplace-smoothed
    hashed-unigram distributions p_t, p_r over ``N_BUCKETS`` buckets,
    then logw(doc) = Σ_tokens ln(p_t[b]/p_r[b]) — high means
    "looks like the target".

    Scale shape: ONE token explode feeding ONE map-side-combinable
    bucket agg with conditional target/raw sums (output ≤ N_BUCKETS
    rows — by construction the same bucket set as the old
    full-outer-join of two per-class aggs, with absent-class counts 0
    where the coalesce used to put them), the two token totals derived
    from that TINY table (Σct / Σcr ≡ the old corpus-sized count aggs),
    then ONE hash-probe join of the exploded raw pool against the
    broadcast model and a per-doc agg. The corpus tokenizes twice
    (model + scoring) instead of the previous five times; the model
    never exceeds N_BUCKETS rows no matter the corpus size.

    Determinism: per-bucket log-ratio rounded to 9 dp (ln on a ≤1024-row
    table), per-doc sum as DECIMAL(28,9), final logw one double cast
    rounded to 6 dp.
    """
    toks = docs.select(
        "doc_id",
        (F.col("source") == target_source).alias("is_target"),
        F.explode(_words(F.col(text_col))).alias("w"),
    ).withColumn("b", _bucket_expr(F.col("w")))

    bucket_counts = toks.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0)).alias("cr"),
    )
    # coalesce keeps the empty-corpus contract of the pre-fusion form
    # (count() over no rows was 0, not NULL — ADVICE r11)
    tots = bucket_counts.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("tt"),
        F.coalesce(F.sum("cr"), F.lit(0)).cast("double").alias("tr"),
    )

    a = F.lit(float(alpha))
    denom_pad = F.lit(float(alpha) * N_BUCKETS)
    model = (
        bucket_counts.crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log((F.col("ct").cast("double") + a) / (F.col("tt") + denom_pad))
                - F.log((F.col("cr").cast("double") + a) / (F.col("tr") + denom_pad)),
                9,
            )
            .cast("decimal(28,9)")
            .alias("log_ratio"),
        )
    )

    scored = toks.where(~F.col("is_target")).join(F.broadcast(model), "b")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("log_ratio").cast("double"), 6).alias("logw"),
        )
        .select("doc_id", "n_tokens", "logw")
    )


def dsir_select(
    docs: DataFrame,
    target_source: str = "src0",
    k: int = 64,
    text_col: str = "text",
    alpha: float = 0.5,
    salt: str = "gumbel",
) -> DataFrame:
    """DSIR Gumbel-top-k selection: sample ``k`` raw-pool documents
    without replacement, proportionally to exp(logw), by ranking on
    logw + Gumbel noise (the exponential-races trick the DSIR paper
    uses). The noise is derived from md5(doc_id) so every engine and
    every run draws the same sample.

    Scale shape: ``dsir_weights`` plus one TakeOrderedAndProject — the
    top-k never globally sorts the corpus; each partition keeps its
    local k and the driver merges P·k rows. ``k`` is the caller's
    token-budget knob (at 100 TB you pass k = docs-you-can-afford).

    gumbel = -ln(-ln(u)) with u = (h + 0.5) / 16^15 from the first 15
    md5 hex chars — u ∈ (0,1) strictly, so both logs are finite.
    """
    w = dsir_weights(docs, target_source, text_col, alpha)
    h = md5_prefix_long(F.col("doc_id").cast("string"), salt).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(16**15))
    keyed = w.withColumn(
        "gumbel_key", F.round(F.col("logw") - F.log(-F.log(u)), 6)
    )
    return (
        keyed.orderBy(F.col("gumbel_key").desc(), F.col("doc_id"))
        .limit(k)
        .select("doc_id", "n_tokens", "logw", "gumbel_key")
    )


def perplexity_buckets(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: per LANGUAGE, split
    documents into terciles of unigram log-perplexity (lower = more
    fluent/common = "head"). CCNet trains on head+middle and drops tail;
    this operator emits the assignment so the downstream sampler can.

    Scale shape: ``unigram_logppl`` (two word-keyed shuffles) + one
    per-language EXACT percentile agg whose output is |langs| rows —
    broadcast back over the scored corpus. The percentile agg holds
    per-language value multisets; at 100 TB swap in approx_percentile
    with the same bucket contract (documented trade — the oracle pins
    the exact variant).

    Determinism: tercile thresholds are exact linear-interpolation
    percentiles over the 6 dp-rounded scores, themselves rounded to
    9 dp; bucket assignment compares identical doubles in both engines.
    """
    scored = unigram_logppl(docs, text_col).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    cuts = scored.groupBy("lang").agg(
        F.round(
            F.expr("percentile(mean_neg_logp, 1.0D / 3.0D)"), 9
        ).alias("t_head"),
        F.round(
            F.expr("percentile(mean_neg_logp, 2.0D / 3.0D)"), 9
        ).alias("t_middle"),
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("mean_neg_logp"),
            F.when(F.col("mean_neg_logp") <= F.col("t_head"), F.lit("head"))
            .when(F.col("mean_neg_logp") <= F.col("t_middle"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )


def fit_dsir_model(
    docs: DataFrame,
    target_source: str = "src0",
    text_col: str = "text",
    alpha: float = 0.5,
) -> list[int]:
    """Fit the DSIR bucket model batch-side and return it as a dense
    vector of ``N_BUCKETS`` nanolog-scaled integers (log_ratio × 1e9,
    the DECIMAL(28,9) lattice ``dsir_weights`` sums on) — the
    train-offline artifact the streaming gate embeds as plan constants.
    The collect is the MODEL (≤ N_BUCKETS rows), never the corpus —
    same driver-size contract as the classifier weights."""
    toks = docs.select(
        (F.col("source") == target_source).alias("is_target"),
        F.explode(_words(F.col(text_col))).alias("w"),
    ).withColumn("b", _bucket_expr(F.col("w")))
    a = float(alpha)
    pad = a * N_BUCKETS
    tgt = {r["b"]: r["ct"] for r in
           toks.where("is_target").groupBy("b").agg(
               F.count(F.lit(1)).alias("ct")).collect()}
    raw = {r["b"]: r["cr"] for r in
           toks.where(~F.col("is_target")).groupBy("b").agg(
               F.count(F.lit(1)).alias("cr")).collect()}
    import math

    tt, tr = float(sum(tgt.values())), float(sum(raw.values()))
    out = []
    for b in range(N_BUCKETS):
        x = math.log((tgt.get(b, 0) + a) / (tt + pad)) - math.log(
            (raw.get(b, 0) + a) / (tr + pad)
        )
        # round-half-away at 9dp onto the integer nanolog lattice
        out.append(int(math.copysign(math.floor(abs(x) * 1e9 + 0.5), x)))
    return out


def attach_dsir_score(
    df: DataFrame, model: list[int], text_col: str = "text"
) -> DataFrame:
    """Score rows against a fitted DSIR model with NO join and NO state:
    the model rides as a 1024-long array literal (plan constants, like
    the classifier weights), each token indexes it by md5 bucket, and
    the per-doc sum runs on exact int64 nanologs — so the score equals
    ``dsir_weights``'s DECIMAL ladder bit-for-bit regardless of token
    order. Streaming-safe: pure codegen projection, usable as a
    stateless gate before any stateful operator."""
    if len(model) != N_BUCKETS:
        raise ValueError(f"model must have {N_BUCKETS} entries")
    arr = F.array(*[F.lit(int(v)).cast("long") for v in model])
    ws = _words(F.col(text_col))
    scaled = F.aggregate(
        F.transform(ws, lambda w: F.element_at(arr, (_bucket_expr(w) + 1).cast("int"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.withColumn(
        "dsir_logw", F.round(scaled.cast("double") / F.lit(1e9), 6)
    )


def selection_pipeline(
    docs: DataFrame,
    target_source: str = "src0",
    logw_quantile: float = 0.5,
    seed: str = "epoch0",
    n_shards: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """The data-SELECTION capstone, one declarative plan: CCNet
    perplexity gate (drop the tail tercile per language) ∩ DSIR
    relevance gate (keep docs at or above the corpus's
    ``logw_quantile`` importance weight — self-calibrating, no
    corpus-dependent magic threshold) → deterministic epoch shuffle of
    the survivors. Output is the per-document training manifest
    (doc_id, lang, ppl_bucket, logw, shard_id, shard_pos, global_pos)
    a trainer consumes directly — the selection analogue of
    ``pretrain_prep`` (which cleans; this one chooses and orders).

    Scale shape: the union of its parts — word-keyed shuffles for the
    LM scores, a broadcast 1024-row DSIR model, tiny broadcast cuts,
    the logw cut as a broadcast 1-row exact-percentile agg (swap
    approx_percentile at 100 TB, same contract), one inner join on
    doc_id, one shard exchange for the epoch order. Target-source
    documents are not scored (DSIR never selects from the target set)
    and so never reach the shuffle.
    """
    from flink_helloworld_spark.operators.layout import training_order

    weights = dsir_weights(docs, target_source, text_col)
    cut = weights.agg(
        F.round(
            F.expr(f"percentile(logw, {logw_quantile!r}D)"), 9
        ).alias("_logw_cut")
    )
    kept = (
        perplexity_buckets(docs, text_col)
        .where(F.col("ppl_bucket") != "tail")
        .join(
            weights.crossJoin(F.broadcast(cut)).where(
                F.col("logw") >= F.col("_logw_cut")
            ),
            "doc_id",
        )
    )
    order = training_order(
        kept.select("doc_id"), seed=seed, n_shards=n_shards
    )
    return kept.join(order, "doc_id").select(
        "doc_id",
        "lang",
        "ppl_bucket",
        "logw",
        "shard_id",
        "shard_pos",
        "global_pos",
    )


def filter_agreement(
    docs: DataFrame,
    target_source: str = "src0",
    text_col: str = "text",
) -> DataFrame:
    """Filter-agreement matrix: every raw-pool document is scored by the
    three cheap gates — Gopher rules (pass/fail), CCNet perplexity
    bucket (tail = fail), DSIR relevance (below-median = fail) — and the
    2³ agreement cells are counted. This is the view a pipeline owner
    tunes thresholds against: high-disagreement cells are where a
    different gate order (or a human look) changes the corpus, and the
    all-fail/all-pass cells say how much the gates are redundant.

    Scale shape: the three scorers' shapes (codegen projection;
    word-keyed shuffles; broadcast bucket model) joined on doc_id, then
    ONE 8-group aggregation — the matrix itself is metadata-sized.
    """
    from flink_helloworld_spark.operators.text import gopher_rules

    gop = gopher_rules(docs, text_col).select("doc_id", "passes_gopher")
    ppl = perplexity_buckets(docs, text_col).select(
        "doc_id", (F.col("ppl_bucket") != "tail").alias("passes_ppl")
    )
    w = dsir_weights(docs, target_source, text_col)
    cut = w.agg(F.round(F.expr("percentile(logw, 0.5D)"), 9).alias("_c"))
    dsir = w.crossJoin(F.broadcast(cut)).select(
        "doc_id", (F.col("logw") >= F.col("_c")).alias("passes_dsir")
    )
    return (
        gop.join(ppl, "doc_id")
        .join(dsir, "doc_id")
        .groupBy("passes_gopher", "passes_ppl", "passes_dsir")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
