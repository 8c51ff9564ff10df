"""Text-analysis operators (north-star LLM-data pipeline surface).

Language-ID, quality scoring, token counting, and document
fingerprinting — all as built-in column expressions (JVM-side, inside
codegen). Ratios are single divisions of exact integer counts, so values
are engine-portable for the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# (The test corpus is synthetic, so these exercise the *mechanism*:
# deterministic scoring + argmax with a fixed tie order.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "una"],
    "zh": ["的", "是", "了", "在", "我"],
}
_LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # fixed tie-break order

# BPE-ish subword pieces: runs of letters, digits, or single punctuation —
# the standard pre-tokenizer regex shape.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _words(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda w: w != "")


def gopher_core_gate(text: Column) -> Column:
    """The cheap core of ``gopher_rules`` as one predicate: at least 5
    words and a mean word length in [3, 10]. The ONE definition of the
    stateless quality gate the streaming ingest fronts run before any
    state is paid, and of their batch twin's gate."""
    n_words = F.size(_words(text))
    mean_wlen = (F.length(text) - (n_words - 1)).cast("double") / F.nullif(
        n_words.cast("double"), F.lit(0.0)
    )
    return (n_words >= 5) & (mean_wlen >= 3.0) & (mean_wlen <= 10.0)


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces + chars."""
    ws = _words(F.col(text_col))
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length(text_col).alias("n_chars_measured"),
    )


def quality_metric_cols(text: Column, ws: Column) -> dict[str, Column]:
    """The quality-score arithmetic as reusable Columns over an already
    materialized (text, word-array) pair — the ONE definition both
    `quality_score` and fused pipelines (`dedup.pretrain_prep_plan`)
    compile against, so the filter predicate is oracle-pinned once.

    CALLER CONTRACT: `ws` must reference a materialized column holding
    `_words(text)` (not the raw expression), or CollapseProject re-inlines
    the split per use."""
    n_words = F.size(ws)
    n_chars = F.length(text)
    stop_hits = F.size(F.filter(ws, lambda w: w.isin(*LANG_MARKERS["en"])))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), 0))
    # nullif guards: empty docs (0 words / 0 chars) yield NULL ratios
    # instead of ANSI-mode DIVIDE_BY_ZERO at scale
    words_d = F.nullif(n_words.cast("double"), F.lit(0.0))
    chars_d = F.nullif(n_chars.cast("double"), F.lit(0.0))
    mean_wlen = (n_chars - (n_words - 1)).cast("double") / words_d
    stop_ratio = stop_hits.cast("double") / words_d
    punct_ratio = n_punct.cast("double") / chars_d
    # fixed weights (4+4+2)/10; integer sum then one division keeps the
    # double exact and engine-portable
    score = (
        F.when((mean_wlen >= 3.0) & (mean_wlen <= 10.0), 4).otherwise(0)
        + F.when(stop_ratio > 0.0, 4).otherwise(0)
        + F.when(punct_ratio < 0.2, 2).otherwise(0)
    ).cast("double") / F.lit(10.0)
    return {
        "n_words": n_words,
        "mean_word_len": mean_wlen,
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality_score": score,
    }


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: word-length shape, stopword presence,
    punctuation density — the standard cheap pre-filter for LLM corpora
    (à la C4/Gopher rules), as one pass of column arithmetic."""
    # materialize the word array once: several expressions below use it,
    # and in-projection reuse would recompute the split per reference
    # (CollapseProject keeps a multiply-used non-cheap alias separate)
    base = docs.select("doc_id", F.col(text_col).alias("_t"), _words(F.col(text_col)).alias("ws"))
    cols = quality_metric_cols(F.col("_t"), F.col("ws"))
    n_words = cols["n_words"]
    mean_wlen = cols["mean_word_len"]
    stop_ratio = cols["stopword_ratio"]
    punct_ratio = cols["punct_ratio"]
    score = cols["quality_score"]
    return base.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-lexicon language ID: count per-language marker hits among
    tokens; predict the argmax with a fixed tie-break order."""
    # word array materialized once, shared by the 5 per-language scores
    base = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        _words(F.lower(F.col(text_col))).alias("ws"),
    )

    def marker_hits(markers: list[str]) -> Column:
        # single-arg lambda: a second param would bind the array index
        return F.size(F.filter(F.col("ws"), lambda w: w.isin(*markers)))

    scores = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    scored = base.select(
        "doc_id",
        "labeled_lang",
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_ORDER],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(_LANG_ORDER):  # earlier in order wins ties
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.withColumn("pred_lang", pred)


# Redaction patterns shared with the oracle: Java-regex ∩ RE2 syntax only
# (no lookaround, no backrefs), so Spark and DuckDB match identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "digits": r"[0-9]{7,}",  # long digit runs: phone/account/card-ish
}
_PII_ORDER = ["email", "url", "digits"]  # applied in this order


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII/boilerplate scrubbing: redact emails, URLs, and long digit
    runs with typed placeholders, reporting per-kind hit counts — the
    standard pre-training privacy pass. Pure ``regexp_replace`` /
    ``regexp_extract_all`` column expressions (codegen; patterns chosen
    to parse identically under Java regex and RE2 so the oracle
    replays them)."""
    clean = F.col(text_col)
    counts = []
    for kind in _PII_ORDER:
        pat = PII_PATTERNS[kind]
        counts.append(
            F.size(F.regexp_extract_all(clean, F.lit(pat), 0)).alias(f"n_{kind}")
        )
        clean = F.regexp_replace(clean, pat, f"<{kind.upper()}>")
    return docs.select("doc_id", *counts, clean.alias("clean_text"))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition signals (the Gopher-style quality gates): fraction of
    duplicate word bigrams and the share of the single most frequent
    bigram. High values flag boilerplate/spam for removal.

    Shape: bigrams explode once, then one hash-aggregate per (doc,
    bigram) and one per doc — map-side partials both times, linear in
    corpus size. Docs with <2 words report zero repetition."""
    # bind the word split to a column BEFORE the per-element lambda
    # references it: slice-of-raw-split inside transform re-inlines the
    # whole split subtree per bigram (CollapseProject; the fingerprint/
    # PNG-builder trap)
    staged = docs.select("doc_id", _words(F.col(text_col)).alias("_ws"))
    ws = F.col("_ws")
    # guard: sequence(0, -1) would auto-step BACKWARD in Spark, inventing
    # phantom bigrams for docs with <2 words — emit an empty array instead
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 2),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = staged.select("doc_id", F.explode(bigrams).alias("bigram"))
    per_bigram = exploded.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    dup_frac = (F.col("n_bigrams") - F.col("n_distinct")).cast("double") / F.nullif(
        F.col("n_bigrams").cast("double"), F.lit(0.0)
    )
    top_frac = F.col("top_cnt").cast("double") / F.nullif(
        F.col("n_bigrams").cast("double"), F.lit(0.0)
    )
    stats = per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        dup_frac.alias("dup_bigram_frac"),
        top_frac.alias("top_bigram_frac"),
    )
    # docs with <2 words have no bigrams at all: report explicit zeros
    short = staged.where(F.size(ws) < 2).select(
        "doc_id",
        F.lit(0).alias("n_bigrams"),
        F.lit(0.0).alias("dup_bigram_frac"),
        F.lit(0.0).alias("top_bigram_frac"),
    )
    return stats.unionByName(short)


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized lowercase
    text (exact-dup key) + a locality-sensitive piece fingerprint (min
    md5 over word 4-gram pieces — one shared piece ⇒ likely overlap)."""
    # STAGED projections: the gram lambda below references the word
    # array per ELEMENT — if `ws` were the raw split-of-regexp
    # expression, CollapseProject would re-inline that whole subtree
    # into every element evaluation (O(n²)/row, the PNG-builder trap);
    # binding norm and ws to columns first makes each slice O(gram)
    staged = docs.select(
        "doc_id",
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ").alias(
            "_norm"
        ),
    ).select("doc_id", "_norm", _words(F.col("_norm")).alias("_ws"))
    ws = F.col("_ws")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 4),
        lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i + 1, 4))),
    )
    piece_min = F.when(F.size(ws) >= 4, F.array_min(grams)).otherwise(
        F.md5(F.col("_norm"))
    )
    return staged.select(
        "doc_id",
        F.md5(F.col("_norm")).alias("content_fp"),
        piece_min.alias("piece_fp"),
    )


def char_diversity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Simpson diversity (1 - Σp²) at character and word
    level — the low-diversity signal (keyboard mashing, repeated tokens)
    without entropy's ln(): Σcnt² is exact integer arithmetic, so the
    index is bit-deterministic in any engine and any partitioning,
    where a float Σ p·ln p would be neither (summation order + last-ulp
    libm differences).
    """
    chars = F.expr(f"regexp_extract_all({text_col}, '.', 0)")
    words = _words(F.col(text_col))

    def simpson(arr: Column) -> Column:
        # Σ over distinct values of count², per row, via a SORTED-RUN
        # fold: array_sort groups equal values into runs, one pass
        # accumulates run lengths and Σrun² — O(n log n) per row vs the
        # O(distinct·n) per-distinct filter scan it replaces (which was
        # the whole of text_diversity's bench cost on character arrays).
        # Integer arithmetic throughout ⇒ bit-identical Σcnt².
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("ssq"),
        )

        def step(acc: Column, x: Column) -> Column:
            new_run = acc["prev"].isNull() | (acc["prev"] != x)
            return F.when(
                new_run,
                F.struct(
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("run"),
                    (acc["ssq"] + acc["run"] * acc["run"]).alias("ssq"),
                ),
            ).otherwise(
                F.struct(x.alias("prev"), (acc["run"] + 1).alias("run"), acc["ssq"])
            )

        sum_sq = F.aggregate(
            F.array_sort(arr),
            init,
            step,
            lambda acc: acc["ssq"] + acc["run"] * acc["run"],
        )
        n = F.size(arr).cast("long")
        return F.when(
            n > 0,
            1.0 - sum_sq.cast("double") / (n * n).cast("double"),
        ).otherwise(F.lit(None).cast("double"))

    return docs.select(
        "doc_id",
        F.size(F.array_distinct(chars)).alias("n_distinct_chars"),
        F.size(chars).alias("n_chars"),
        simpson(chars).alias("char_diversity"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        simpson(words).alias("word_diversity"),
    )


# Gopher-rule stopword set (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1 — public).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 100_000,
    max_symbol_ratio: float = 0.1,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The published Gopher quality-filter rule set as per-document
    boolean flags + an overall verdict — the named-rules complement to
    ``quality_score``'s single scalar. One projection of column
    arithmetic, codegen end-to-end.

    Rules (Rae et al. 2021 §A1.1, thresholds parameterized; word-count
    bounds default far below the paper's 50 because the synthetic docs
    are short): word count in [min,max]; mean word length in [3,10];
    symbol-to-word ratio (# and ...) ≤ cap; ≤30% of lines end in an
    ellipsis; ≥80% of words contain an alphabetic char; ≥2 distinct
    Gopher stopwords present."""
    base = docs.select(
        "doc_id", F.col(text_col).alias("_t"), _words(F.col(text_col)).alias("ws")
    )
    ws = F.col("ws")
    n_words = F.size(ws)
    n_chars = F.length("_t")
    words_d = F.nullif(n_words.cast("double"), F.lit(0.0))
    mean_wlen = (n_chars - (n_words - 1)).cast("double") / words_d
    n_symbols = F.size(
        F.regexp_extract_all(F.col("_t"), F.lit(r"(#|\.\.\.)"), 0)
    )
    lines = F.split(F.col("_t"), "\n")
    n_lines = F.size(lines)
    ellipsis_lines = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    # count DISTINCT stopwords present as an explicit sum of
    # array_contains terms — portable: engines disagree on whether a
    # set-intersection dedups, a membership test cannot
    lower_ws = F.transform(ws, lambda w: F.lower(w))
    stop_hits = sum(
        F.when(F.array_contains(lower_ws, s), 1).otherwise(0)
        for s in GOPHER_STOPWORDS
    )
    r_word_count = (n_words >= min_words) & (n_words <= max_words)
    r_mean_wlen = (mean_wlen >= 3.0) & (mean_wlen <= 10.0)
    r_symbol = n_symbols.cast("double") / words_d <= max_symbol_ratio
    r_ellipsis = (
        ellipsis_lines.cast("double") / n_lines.cast("double")
        <= max_ellipsis_line_ratio
    )
    r_alpha = alpha_words.cast("double") / words_d >= min_alpha_word_ratio
    r_stopwords = stop_hits >= min_stopword_hits
    flags = {
        "rule_word_count": r_word_count,
        "rule_mean_word_len": r_mean_wlen,
        "rule_symbol_ratio": r_symbol,
        "rule_ellipsis_lines": r_ellipsis,
        "rule_alpha_words": r_alpha,
        "rule_stopwords": r_stopwords,
    }
    named = [F.coalesce(c, F.lit(False)).alias(n) for n, c in flags.items()]
    out = base.select("doc_id", *named)
    passed = F.lit(True)
    for n in flags:
        passed = passed & F.col(n)
    return out.select("doc_id", *flags.keys(), passed.alias("passes_gopher"))


def bigram_logppl(
    docs: DataFrame,
    text_col: str = "text",
    lam: float = 0.7,
    round_dp: int = 6,
) -> DataFrame:
    """Interpolated bigram log-perplexity — the next rung above
    ``unigram_logppl`` on the CCNet-style LM-filter ladder: the corpus's
    own bigram model scores each document by mean -ln p, with
    Jelinek-Mercer interpolation p(w|prev) = λ·C(prev,w)/C(prev) +
    (1-λ)·C(w)/T so unseen bigrams back off to the unigram instead of
    -ln 0. Each document's FIRST token has no context and scores by the
    unigram alone. Boilerplate scores low (its bigrams saturate the
    corpus), gibberish high.

    Determinism contract matches unigram_logppl: per-token -ln p rounded
    to 9 dp, summed as DECIMAL(28,9) (exact, order-independent), final
    mean one double division rounded to ``round_dp``.

    Scale shape: the context column comes from a lag window PARTITIONED
    by doc_id (state bounded per doc), then three hash joins all keyed
    on words/bigrams (unigram for w, unigram for prev's context count,
    bigram for the pair) — vocab is unbounded so joins are hash, not
    broadcast; bigram keys are near-uniform. Nothing driver-side except
    the scalar corpus token count.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(_words(F.col(text_col))).alias("pos", "w")
    ).withColumn(
        "prev",
        F.lag("w").over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    # corpus token count as a broadcast 1-row aggregate — an eager
    # .count() here would re-run the explode AND the lag window as a
    # separate full-corpus job
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("_t"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    big = (
        toks.where(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("cpw"))
    )
    p_uni = F.col("cw").cast("double") / F.col("_t")
    p_big = F.col("cpw").cast("double") / F.col("cprev").cast("double")
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(lam) * F.coalesce(p_big, F.lit(0.0)) + F.lit(1.0 - lam) * p_uni
    )
    scored = (
        toks.join(uni, "w")
        .join(
            uni.select(F.col("w").alias("prev"), F.col("cw").alias("cprev")),
            "prev",
            "left",
        )
        .join(big, ["prev", "w"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(-F.log(p), 9).cast("decimal(28,9)").alias("nlp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("nlp").cast("double") / F.count(F.lit(1)).cast("double"),
                round_dp,
            ).alias("mean_neg_logp"),
        )
        .select("doc_id", "n_tokens", "mean_neg_logp")
    )


def unigram_logppl(
    docs: DataFrame, text_col: str = "text", round_dp: int = 6
) -> DataFrame:
    """Unigram log-perplexity quality score — the model-free version of
    the CCNet-style LM filter: build the corpus's own unigram
    distribution (one wordcount agg), then score each document by the
    mean negative log-probability of its words. Outlier-high scores mark
    gibberish/rare-token docs; outlier-low mark boilerplate.

    Engine-portable determinism: per-word -ln p(w) is rounded to 9 dp
    and summed as DECIMAL(28,9) (exact, order-independent), the mean is
    one double division rounded to ``round_dp`` — so the DuckDB oracle
    value-hashes exactly despite float logs and arbitrary partitioning.

    Scale shape: one wordcount aggregation (map-side partials), one
    hash join of exploded words against the vocab (both shuffles keyed
    on the word — co-partitioned), one per-doc agg. Nothing driver-side;
    vocab size is unbounded so the join is hash, not broadcast.
    """
    words = docs.select(
        "doc_id", F.explode(_words(F.col(text_col))).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # corpus token count = Σ vocab counts: a vocab-sized aggregate over
    # the SAME subtree the scoring join builds (runtime exchange reuse
    # dedups the shared build) instead of a third corpus-wide explode.
    # coalesce keeps the empty-corpus contract identical to the old
    # count() form (0, not NULL — ADVICE r11).
    total = vocab.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("double").alias("_t")
    )
    scored = (
        words.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(-F.log(F.col("cnt").cast("double") / F.col("_t")), 9)
            .cast("decimal(28,9)")
            .alias("nlp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                (F.sum("nlp").cast("double") / F.count(F.lit(1)).cast("double")),
                round_dp,
            ).alias("mean_neg_logp"),
        )
        .select("doc_id", "n_tokens", "mean_neg_logp")
    )


# Fixed rule order for the ablation funnel — MUST match the column
# order produced by gopher_rules (and the oracle's UNION ALL order).
GOPHER_RULE_ORDER = [
    "rule_word_count",
    "rule_mean_word_len",
    "rule_symbol_ratio",
    "rule_ellipsis_lines",
    "rule_alpha_words",
    "rule_stopwords",
]


def filter_funnel(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-rule ablation funnel over the Gopher filter set — the
    pipeline-observability report every production cleaning run keeps
    beside the filter itself: for each rule, how many documents fail it
    IN ISOLATION (``n_fail_alone``, the rule's marginal strictness) and
    how many survive the rules applied CUMULATIVELY in the fixed order
    (``n_pass_cum``, the funnel). At 100 TB this is how a rule change
    is evaluated before it reruns the corpus: a rule whose marginal
    kill-rate explodes between crawls signals drift, and the funnel
    column shows where the budget actually goes.

    Output: one row per rule, ``(stage, rule, n_docs, n_fail_alone,
    n_pass_cum)`` — exact integers only, engine-portable.

    Scale shape: ONE pass — the gopher flag projection (codegen,
    dedup.py-style zero exchanges) followed by a single global
    aggregate whose partials are 13 counters per task (map-side
    combine); the result is 6 rows built by exploding a literal array,
    never a per-rule rescan. Reference anchor: the rule set is
    text.py:312 (gopher_rules), Rae et al. 2021 §A1.1.
    """
    g = gopher_rules(docs, text_col=text_col)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for i, r in enumerate(GOPHER_RULE_ORDER):
        aggs.append(
            F.sum(F.when(F.col(r), 0).otherwise(1)).alias(f"_fail_{i}")
        )
        cum = F.lit(True)
        for prior in GOPHER_RULE_ORDER[: i + 1]:
            cum = cum & F.col(prior)
        aggs.append(F.sum(F.when(cum, 1).otherwise(0)).alias(f"_cum_{i}"))
    row = g.agg(*aggs)
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(r).alias("rule"),
                F.col("n_docs").alias("n_docs"),
                F.col(f"_fail_{i}").alias("n_fail_alone"),
                F.col(f"_cum_{i}").alias("n_pass_cum"),
            )
            for i, r in enumerate(GOPHER_RULE_ORDER)
        ]
    )
    return row.select(F.explode(stages).alias("s")).select("s.*")


def winnowing_fingerprint(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm): hash every ``k``-gram, slide a window of ``w``
    consecutive gram hashes, keep the minimum hash of each window, and
    return the distinct selected hashes per document. Unlike the
    single min-hash ``piece_fp`` in ``fingerprint`` (text.py:218),
    winnowing GUARANTEES any shared run of ``w + k - 1`` tokens
    between two documents yields at least one shared fingerprint —
    the local-coverage property that makes it the standard
    plagiarism/overlap detector.

    Output: ``(doc_id, fp)`` rows — documents shorter than ``k`` words
    fingerprint to the md5 of their normalized text so every doc has
    at least one row and downstream overlap joins stay total.

    Scale shape: entirely per-row column arithmetic (normalize →
    gram-hash → windowed min → distinct) inside whole-stage codegen;
    the explode emits ~tokens/w rows per doc and there is NO shuffle at
    all — overlap detection downstream is one hash join on ``fp``.
    The gram array is bound to a materialized column before the
    windowed-min lambda slices it (the CollapseProject staging rule,
    same trap as text.py:218).
    """
    staged = docs.select(
        "doc_id",
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ").alias(
            "_norm"
        ),
    ).select("doc_id", "_norm", _words(F.col("_norm")).alias("_ws"))
    ws = F.col("_ws")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - k),
        lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i + 1, k))),
    )
    staged2 = staged.select(
        "doc_id",
        "_norm",
        F.when(F.size(ws) >= k, grams).alias("_grams"),
    )
    g = F.col("_grams")
    selected = F.when(
        g.isNotNull(),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(g) - w, F.lit(0))),
                lambda j: F.array_min(F.slice(g, j + 1, w)),
            )
        ),
    ).otherwise(F.array(F.md5(F.col("_norm"))))
    return staged2.select("doc_id", F.explode(selected).alias("fp"))


def winnowing_overlap(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Document-overlap candidates from winnowing fingerprints — the
    downstream half of ``winnowing_fingerprint`` (MOSS's actual use):
    documents sharing ``min_shared``+ selected fingerprints are overlap
    candidates, with the shared count as the match strength.

    ``max_df`` is the scale guard: a fingerprint present in more than
    ``max_df`` documents is corpus boilerplate, not overlap signal, and
    joining on it costs O(df²) pairs — the same document-frequency cap
    the capped exact-Jaccard variant ships (dedup.py). Dropping those
    posting lists bounds the self-join at ``max_df²`` pairs per
    fingerprint REGARDLESS of corpus size; the boilerplate they
    represent is the span/scrub families' job, not this operator's.

    Output: ``(doc_a, doc_b, n_shared)`` with ``doc_a < doc_b``.

    Scale shape: fingerprints are uniform md5 keys; the df-filter is
    one hash agg + join (map-side partials), the pair generation is a
    bounded self-join on the fingerprint, and the final agg keys on the
    pair. No text shuffles anywhere — only 32-byte hashes and ids.
    """
    fps = winnowing_fingerprint(docs, k=k, w=w, text_col=text_col)
    df_ok = (
        fps.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("fp")
    )
    bounded = fps.join(df_ok, "fp")
    pairs = (
        bounded.alias("a")
        .join(bounded.alias("b"), "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return pairs


def kneser_ney_logppl(
    docs: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    round_dp: int = 6,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram log-perplexity — the top rung of
    the LM-filter ladder (unigram → Jelinek-Mercer bigram → KN bigram):
    absolute discounting with the CONTINUATION unigram as the backoff,
    the smoothing that actually wins for n-gram LMs (Kneser & Ney 1995;
    Chen & Goodman 1999 formulation):

        p(w|prev) = (max(c(prev,w) - d, 0) + d·N1+(prev,·)·p_cont(w))
                    / c(prev)
        p_cont(w) = (N1+(·,w) + 0.5) / (N1+(·,·) + 0.5·V)

    where N1+(prev,·) counts distinct continuations of prev, N1+(·,w)
    counts distinct left-contexts of w, N1+(·,·) counts distinct bigram
    types, and V is the vocabulary size. The 0.5/V Laplace pad on the
    continuation keeps every probability strictly positive (a token that
    only ever appears document-initial has N1+(·,w) = 0). Document-first
    tokens (no context) score by p_cont alone.

    Determinism ladder identical to ``bigram_logppl``: per-token -ln p
    rounded to 9 dp, summed as DECIMAL(28,9), mean one double division
    rounded to ``round_dp``.

    Scale shape: one lag window per doc (state bounded per doc), then
    hash joins keyed on the bigram/context/word — the model tables are
    derived from ONE bigram-type count and are all map-side combinable;
    scalars (bigram-type total, vocab size) ride as broadcast 1-row
    aggs, never an eager count.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(_words(F.col(text_col))).alias("pos", "w")
    ).withColumn(
        "prev",
        F.lag("w").over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    big = (
        toks.where(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("cpw"))
    )
    prevtab = big.groupBy("prev").agg(
        F.sum("cpw").alias("cprev"), F.count(F.lit(1)).alias("n1p_prev")
    )
    conttab = big.groupBy("w").agg(F.count(F.lit(1)).alias("n1l_w"))
    n1_total = big.agg(F.count(F.lit(1)).cast("double").alias("_n1"))
    vocab_n = toks.agg(
        F.countDistinct("w").cast("double").alias("_v")
    )

    d = F.lit(float(discount))
    p_cont = (F.coalesce(F.col("n1l_w"), F.lit(0)).cast("double") + F.lit(0.5)) / (
        F.col("_n1") + F.lit(0.5) * F.col("_v")
    )
    p_big = (
        F.greatest(F.coalesce(F.col("cpw"), F.lit(0)).cast("double") - d, F.lit(0.0))
        + d * F.col("n1p_prev").cast("double") * p_cont
    ) / F.col("cprev").cast("double")
    p = F.when(F.col("prev").isNull(), p_cont).otherwise(p_big)

    scored = (
        toks.join(big, ["prev", "w"], "left")
        .join(prevtab, "prev", "left")
        .join(conttab, "w", "left")
        .crossJoin(F.broadcast(n1_total))
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "doc_id",
            F.round(-F.log(p), 9).cast("decimal(28,9)").alias("nlp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("nlp").cast("double") / F.count(F.lit(1)).cast("double"),
                round_dp,
            ).alias("mean_neg_logp"),
        )
        .select("doc_id", "n_tokens", "mean_neg_logp")
    )


def vocab_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    k: int = 50,
    alpha: float = 0.5,
) -> DataFrame:
    """Vocabulary drift report between two corpus snapshots: per term,
    smoothed relative-frequency log-ratio new-vs-old, keeping the k
    largest absolute movers — the monitoring view a crawl operator
    checks before a new snapshot enters training (topic shifts, spam
    bursts, scraper regressions all surface as vocabulary movers).

    log_ratio = ln( ((c_new+α)/(T_new+α)) / ((c_old+α)/(T_old+α)) ),
    rounded to 6 dp; ties rank by term so the top-k cut is total-order
    deterministic.

    Scale shape: two wordcount aggs (map-side combinable) + ONE full
    outer join keyed on the term + TakeOrderedAndProject — the top-k
    never globally sorts the vocabulary. Corpus totals ride as broadcast
    1-row aggs.
    """
    oc = old.select(F.explode(_words(F.col(text_col))).alias("w")).groupBy(
        "w"
    ).agg(F.count(F.lit(1)).alias("c_old"))
    nc = new.select(F.explode(_words(F.col(text_col))).alias("w")).groupBy(
        "w"
    ).agg(F.count(F.lit(1)).alias("c_new"))
    t_old = oc.agg(F.sum("c_old").cast("double").alias("t_old"))
    t_new = nc.agg(F.sum("c_new").cast("double").alias("t_new"))
    a = F.lit(float(alpha))
    joined = (
        oc.join(nc, "w", "full_outer")
        .crossJoin(F.broadcast(t_old))
        .crossJoin(F.broadcast(t_new))
        .select(
            F.col("w").alias("term"),
            F.coalesce("c_old", F.lit(0)).alias("c_old"),
            F.coalesce("c_new", F.lit(0)).alias("c_new"),
            F.round(
                F.log(
                    ((F.coalesce("c_new", F.lit(0)).cast("double") + a)
                     / (F.col("t_new") + a))
                    / ((F.coalesce("c_old", F.lit(0)).cast("double") + a)
                       / (F.col("t_old") + a))
                ),
                6,
            ).alias("log_ratio"),
        )
    )
    return (
        joined.orderBy(F.abs(F.col("log_ratio")).desc(), F.col("term"))
        .limit(k)
        .select("term", "c_old", "c_new", "log_ratio")
    )


def char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Shannon character entropy per document (nats) — the
    compressibility-proxy quality signal: gibberish/binary spill scores
    high, keyboard-mash and repeated-char padding score low, natural
    text sits in a narrow band (the filter rule CCNet/Gopher pipelines
    apply via compression ratio; character entropy is its
    deterministic, codec-free stand-in).

    Output: (doc_id, n_chars_seen, char_entropy); empty docs score 0.0.
    Entropy terms -p·ln(p) round to 9 dp and sum as DECIMAL(28,9) (the
    engine's portable float-aggregation ladder), so the value is
    hash-exact cross-engine. Two hash aggregations keyed by
    (doc_id, char) then doc_id — row-linear, no driver traffic.
    """
    # Spark split("", "") yields [""] where DuckDB yields [] — drop the
    # empty-string pseudo-char so both engines see the same alphabet
    ex = docs.select(
        "doc_id", F.explode(F.split(text_col, "")).alias("ch")
    ).where(F.col("ch") != "")
    cnt = ex.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n_df = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    terms = (
        cnt.join(n_df, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.sum(F.round(-p * F.log(p), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("ent"),
        )
    )
    return docs.select("doc_id").join(terms, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n").cast("int"), F.lit(0)).alias("n_chars_seen"),
        F.coalesce("ent", F.lit(0.0)).alias("char_entropy"),
    )


def corpus_drift_psi(
    snap_a: DataFrame,
    snap_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Population Stability Index between two corpus snapshots over
    (lang × quality-band) buckets — the standard production drift
    monitor ("did the composition of what we're ingesting move?"),
    computed before any expensive re-processing decision.

    Buckets are the discrete quality bands quality_score emits
    (score·10 ∈ {0,2,4,6,8,10}) crossed with lang; shares are
    Laplace-smoothed ((n+1)/(total+K), K = distinct buckets in the
    union) so a bucket vanishing from one snapshot contributes a
    finite, well-defined term; psi_term = (p−q)·ln(p/q) per bucket on
    a 6-dp floor-form round (the BM25 contract: JVM and libm ln()
    agree through a 6-dp round). Σ psi_term > 0.2 is the classic
    "significant shift" alarm threshold.

    Scale shape: one quality pass + one (lang, band) count per
    snapshot — map-side combinable aggs over tiny key spaces; totals
    and K are broadcast 1-row aggregates. Nothing pairwise, nothing
    corpus-crossing.
    """
    def buckets(df: DataFrame, out: str) -> DataFrame:
        q = quality_score(df, text_col=text_col).select(
            "doc_id", "quality_score"
        )
        keyed = df.select("doc_id", "lang").join(q, "doc_id")
        # explicit round before the int cast: score·10 is an integer up
        # to float noise (5.999…), and bare double→int TRUNCATES in
        # Spark but ROUNDS in DuckDB — a silent band-off-by-one
        return keyed.groupBy(
            "lang",
            F.round(F.col("quality_score") * 10, 0).cast("int").alias("band"),
        ).agg(F.count(F.lit(1)).alias(out))

    ba = buckets(snap_a, "n_a")
    bb = buckets(snap_b, "n_b")
    joined = (
        ba.join(bb, ["lang", "band"], "full_outer")
        .select(
            "lang",
            "band",
            F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
        )
        .persist()
    )
    totals = joined.agg(
        F.sum("n_a").alias("tot_a"),
        F.sum("n_b").alias("tot_b"),
        F.count(F.lit(1)).alias("kk"),
    )
    out = joined.crossJoin(F.broadcast(totals))
    share_a = (F.col("n_a") + 1).cast("double") / (
        F.col("tot_a") + F.col("kk")
    ).cast("double")
    share_b = (F.col("n_b") + 1).cast("double") / (
        F.col("tot_b") + F.col("kk")
    ).cast("double")
    raw = (share_a - share_b) * F.log(share_a / share_b)
    r6 = F.signum(raw) * F.floor(F.abs(raw) * F.lit(1e6) + F.lit(0.5)) / F.lit(
        1e6
    )
    return out.select(
        "lang",
        "band",
        "n_a",
        "n_b",
        share_a.alias("share_a"),
        share_b.alias("share_b"),
        r6.alias("psi_term"),
    )
