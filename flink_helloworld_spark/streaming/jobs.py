"""End-to-end streaming jobs (reference HelloWorldFlink.java:61-252).

The reference main(): parallel waybill generator → Kafka → consumer →
Elasticsearch idempotent upsert. Here: rate-source generator → column
transforms → keyed idempotent upsert sink (the Kafka hop is config-only
in this container — kafka.py wires it where a broker exists; the sink
IS the ES-upsert equivalent).

Also the streaming dedup surface (north-star): exact streaming dedup via
``dropDuplicates``/``dropDuplicatesWithinWatermark`` — Spark's native
watermark-scoped dedup keeps state bounded, the 100 TB requirement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_helloworld_spark.sources.generators import waybill_c_stream
from flink_helloworld_spark.streaming.sinks import KeyedUpsertSink


def waybill_etl_job(
    spark: SparkSession,
    sink_path: str,
    checkpoint_dir: str,
    rows_per_second: int = 100,
    rows_per_trigger: int | None = None,
):
    """Generator → enrich → keyed upsert: the HelloWorldFlink main ETL
    reshaped Spark-first. Returns (sink, StreamingQuery) — caller stops
    the query; the sink is queryable parquet keyed by waybill_code.

    ``rows_per_trigger``: expected input rows per micro-batch — when
    given, the stateful partition count is auto-sized by the sqrt
    capacity law (``_util.suggest_stateful_partitions``) before the
    first start pins it at the checkpoint; the session-global conf is
    restored after .start() so shared-session batch work keeps its
    parallelism."""
    from flink_helloworld_spark.streaming._util import (
        apply_stateful_partitions,
    )

    _prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # try/finally (ADVICE r7): if plan building or .start() raises, the
    # session-global conf must not stay clobbered for later batch work
    try:
        apply_stateful_partitions(spark, rows_per_trigger)
        stream = waybill_c_stream(spark, rows_per_second)
        enriched = stream.select(
            "waybill_code",
            "waybill_sign",
            "site_code",
            "site_name",
            "seq",
            F.length("waybill_sign").alias("sign_len"),
            F.unix_millis(F.col("emit_time")).alias("ts"),
        )
        sink = KeyedUpsertSink(sink_path, "waybill_code", "seq")
        query = (
            enriched.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
    finally:
        # the partition count is pinned at the first checkpoint above;
        # restore the session-global conf for subsequent batch work
        spark.conf.set("spark.sql.shuffle.partitions", _prev_parts)
    return sink, query


def streaming_dedup_exact(
    stream: DataFrame, keys: list[str], time_col: str | None = None, delay: str = "10 minutes"
) -> DataFrame:
    """Exact streaming dedup. With ``time_col``, uses
    ``dropDuplicatesWithinWatermark``: duplicate arrivals inside the
    watermark window are suppressed and state for old keys is evicted as
    the watermark advances — bounded state, unlike plain dropDuplicates
    whose key set grows forever (only safe on bounded key spaces)."""
    if time_col is None:
        return stream.dropDuplicates(keys)
    return stream.withWatermark(time_col, delay).dropDuplicatesWithinWatermark(keys)


def streaming_window_topn_job(
    stream: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    key_col: str = "event_type",
    size: str = "1 day",
    n: int = 3,
    delay: str = "10 minutes",
    rows_per_trigger: int | None = None,
):
    """Continuous Window Top-N (Flink SQL's streaming Top-N): per
    tumbling window, maintain the top-``n`` keys by count as events
    arrive, emitting updates into the keyed upsert sink.

    Spark shape: a watermarked windowed count runs in UPDATE mode (the
    aggregation state is watermark-bounded), so a micro-batch carries
    only the CHANGED (window, key) aggregate rows. Ranking a batch alone
    would therefore drop previously-seen contenders — so the upsert sink
    holds the aggregate rows keyed by window#key (the ES-document analog)
    and each batch re-ranks the sink's state for just the touched windows
    into a second upsert table keyed by window#rank. Both upserts ride
    the sink's batch-id ledger: replays are no-ops end-to-end. Rank slots
    only ever get overwritten (counts are monotone), never orphaned.

    Returns (agg_sink, topn_sink, query); topn_sink's parquet is the
    live Top-N table. ``rows_per_trigger``: expected input rows per
    micro-batch — when given, the stateful partition count is
    auto-sized by the sqrt capacity law before the first start pins it.
    The session-global partition conf is restored after the internal
    .start() (the count is already pinned at the checkpoint by then).
    """
    from flink_helloworld_spark.streaming._util import (
        apply_stateful_partitions,
    )

    _sess = stream.sparkSession
    _prev_parts = _sess.conf.get("spark.sql.shuffle.partitions")
    # try/finally (ADVICE r7): nothing between the conf override and
    # .start() may leak the session-global partition count on error
    try:
        apply_stateful_partitions(_sess, rows_per_trigger)
        agg = (
            stream.withWatermark(time_col, delay)
            .groupBy(F.window(time_col, size).alias("w"), key_col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col(key_col).alias("key"),
                "cnt",
            )
        )
        agg_sink = KeyedUpsertSink(f"{sink_path}/agg", "window_key", "cnt")
        # rank slots order by batch RECENCY, not cnt: when a new occupant
        # TIES the old occupant's count at a slot, the freshest ranking must
        # win — ordering by cnt would nondeterministically keep the stale
        # row, duplicating one key across two slots and dropping the other
        topn_sink = KeyedUpsertSink(f"{sink_path}/topn", "window_rank", "_ver")

        def rank_and_upsert(batch: DataFrame, batch_id: int) -> None:
            from pyspark.sql import Window as Wspec

            if batch.isEmpty():
                return
            batch = batch.withColumn(
                "window_key",
                F.concat_ws("#", F.col("window_start").cast("string"), "key"),
            ).localCheckpoint(eager=True)  # update-mode batch is consumed twice
            agg_sink(batch, batch_id)
            # current aggregate state for the touched windows (tiny slice:
            # |touched windows| x |keys|), selected executor-side via a
            # broadcast semi-join against the batch's distinct windows — no
            # driver collect, so a late-data-heavy stream with many open
            # windows never hops window metadata through the driver
            touched = batch.select("window_start").distinct()
            state = agg_sink.read(batch.sparkSession).join(
                F.broadcast(touched), "window_start", "left_semi"
            )
            ranked = (
                state.withColumn(
                    "rank",
                    F.row_number().over(
                        Wspec.partitionBy("window_start").orderBy(
                            F.col("cnt").desc(), F.col("key")
                        )
                    ),
                )
                .where(F.col("rank") <= n)
                .withColumn(
                    "window_rank",
                    F.concat_ws(
                        "#", F.col("window_start").cast("string"), F.col("rank")
                    ),
                )
                .select(
                    "window_rank",
                    "window_start",
                    "rank",
                    "key",
                    "cnt",
                    F.lit(batch_id).alias("_ver"),
                )
            )
            topn_sink(ranked, batch_id)

        query = (
            agg.writeStream.outputMode("update")
            .foreachBatch(rank_and_upsert)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
    finally:
        _sess.conf.set("spark.sql.shuffle.partitions", _prev_parts)
    return agg_sink, topn_sink, query


def streaming_ingest_job(
    stream: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    time_col: str = "event_time",
    text_col: str = "text",
    min_words: int = 3,
    delay: str = "10 minutes",
    rows_per_trigger: int | None = None,
):
    """Streaming corpus ingest: the pretrain-prep front half as one
    continuous query — cheap per-row quality gate (word count + non-empty
    after trim), exact content dedup within the watermark horizon, then
    the partitioned lake sink. Returns ``(writer, restore)`` — the
    started-ready DataStreamWriter plus a zero-arg RESTORE handle.

    CALLER OBLIGATION (ADVICE r7 — stated here, not just in _util):
    with ``rows_per_trigger`` set, this builder overrides the
    session-global ``spark.sql.shuffle.partitions`` and MUST leave it
    live until the caller's first ``.start()`` pins the stateful
    partition count at the checkpoint; call ``restore()`` right after
    that ``.start()``, or all subsequent batch work in the shared
    session silently runs at the streaming partition count.
    ``restore()`` is idempotent and is a no-op when nothing was
    overridden.

    Scale shape: the quality filter is a stateless row predicate (no
    state, pushes into the scan); dedup state is bounded by the
    watermark window; the sink partitions by ingest date so downstream
    batch jobs (corpus_clean's LSH stage, packing) prune to fresh
    partitions. This is the streaming complement of `pretrain_prep` —
    PAIR-VERIFIED near-dup work stays in scheduled batch over the lake;
    the single-pass first-arrival LSH contract runs fully streaming via
    `tws.streaming_lsh_dedup` (one long of state per claimed bucket).
    """
    from flink_helloworld_spark.operators.dedup import _words

    # rows_per_trigger: expected input rows per micro-batch — auto-size
    # the stateful partition count by the sqrt capacity law. This
    # builder RETURNS a writer, so the setting must stay live until the
    # caller's first .start() pins it at the checkpoint — hence the
    # restore handle instead of an in-function finally.
    from flink_helloworld_spark.streaming._util import (
        apply_stateful_partitions,
    )

    sess = stream.sparkSession
    _prev_parts = sess.conf.get("spark.sql.shuffle.partitions")

    def restore() -> None:
        sess.conf.set("spark.sql.shuffle.partitions", _prev_parts)

    apply_stateful_partitions(sess, rows_per_trigger)
    # min_words >= 1 already implies non-blank (the word split drops
    # empty tokens), so the single predicate is the whole quality gate
    filtered = stream.where(F.size(_words(F.col(text_col))) >= min_words)
    deduped = (
        filtered.withWatermark(time_col, delay)
        .withColumn("content_hash", F.md5(F.col(text_col)))
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    dated = deduped.withColumn("ingest_date", F.to_date(F.col(time_col)))
    from flink_helloworld_spark.streaming.sinks import partitioned_lake_sink

    return (
        partitioned_lake_sink(dated, sink_path, checkpoint_dir, ["ingest_date"]),
        restore,
    )


def streaming_pretrain_front(
    stream: DataFrame,
    domain_cap: int,
    time_col: str = "event_time",
    text_col: str = "text",
    delay: str = "10 minutes",
    classifier_weights: list[float] | None = None,
    classifier_threshold: float = 0.5,
    dsir_model: list[int] | None = None,
    dsir_threshold: float = 0.0,
) -> DataFrame:
    """The full streaming pretrain front-end as ONE query, composing the
    round-3 surface: Gopher rule gate (stateless codegen projection) →
    exact content dedup within the watermark horizon (bounded state) →
    per-domain arrival cap on typed transformWithState counters. The
    stateless gate runs FIRST so both stateful operators hold state only
    for documents that can survive; the TWS stage chains after
    dropDuplicatesWithinWatermark the same way the single-query capstone
    chains across its re-key seam.

    ``classifier_weights`` (learned batch-side by
    ``classifier.train_quality_classifier``) adds the
    train-offline/score-online stage: σ(w·x) as plan constants in the
    same stateless gate, dropping rows under ``classifier_threshold``
    before any state is paid for them.

    ``dsir_model`` (fit batch-side by ``selection.fit_dsir_model``)
    adds the DSIR relevance gate the same way: the 1024-bucket nanolog
    model rides as an array literal, each arriving doc's importance
    log-weight is an exact int64 fold over its tokens (bit-identical to
    batch ``dsir_weights``), and rows under ``dsir_threshold`` drop in
    the same stateless projection — target-irrelevant documents never
    reach the dedup/cap state either.

    Returns the flagged stream (doc_id, source, domain_rank, kept);
    callers route kept=true to the lake sink and the rest to an audit
    topic.
    """
    from flink_helloworld_spark.operators.text import gopher_core_gate
    from flink_helloworld_spark.streaming.tws import streaming_domain_cap

    # the cheap core of text.gopher_rules — the batch op's full flag set
    # stays a batch projection
    gated = stream.where(gopher_core_gate(F.col(text_col)))
    if classifier_weights is not None:
        from flink_helloworld_spark.operators.classifier import (
            attach_quality_score,
        )

        gated = (
            attach_quality_score(gated, classifier_weights, text_col)
            .where(F.col("quality_score") >= classifier_threshold)
            .drop("quality_score")
        )
    if dsir_model is not None:
        from flink_helloworld_spark.operators.selection import attach_dsir_score

        gated = (
            attach_dsir_score(gated, dsir_model, text_col)
            .where(F.col("dsir_logw") >= dsir_threshold)
            .drop("dsir_logw")
        )
    deduped = (
        gated.withWatermark(time_col, delay)
        .withColumn("content_hash", F.md5(F.col(text_col)))
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    # seq must totally order same-domain docs: two docs sharing a
    # millisecond would otherwise tie and the kept/dropped decision at
    # the cap boundary would depend on Arrow chunk arrival order —
    # not replay-stable. 2^20 doc-id low bits break the tie
    # deterministically (millis * 2^20 stays well under 2^63).
    seq = F.unix_millis(F.col(time_col)) * F.lit(1048576) + F.pmod(
        F.col("doc_id"), F.lit(1048576)
    )
    return streaming_domain_cap(
        deduped.withColumn("seq", seq), cap=domain_cap
    )


def streaming_shard_manifest_job(
    stream: DataFrame,
    shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ``operators/layout.shard_manifest``: maintain
    the per-shard manifest incrementally as documents arrive, emitting
    the refreshed row for every shard a micro-batch touches.

    This is the payoff of the manifest's algebra: counts and token sums
    are additive, id bounds fold under min/max, and the content
    fingerprint is a BIT_XOR — all associative + commutative, so state
    is FIVE scalars per shard and the streaming manifest after any batch
    sequence equals the batch operator over everything ingested so far
    (asserted bit-identical in tests). The batch hash recipe
    (``layout.shard_tag_columns``) feeds the one manifest fold,
    ``tws.shard_manifest_fold`` (a step on the one keyed-state kernel,
    ``tws.fold_by_key``), here in update mode. A restart replays to the
    same values from the checkpoint; a backfill engine can verify shard
    by shard without reading documents.
    """
    from flink_helloworld_spark.operators.layout import shard_tag_columns
    from flink_helloworld_spark.streaming.tws import shard_manifest_fold

    tagged = stream.select(*shard_tag_columns(shards, text_col, id_col))
    return shard_manifest_fold(tagged, output_mode="update")


def streaming_filter_funnel_job(
    stream: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Streaming twin of ``operators/text.filter_funnel``: maintain the
    per-rule ablation counters incrementally as documents arrive —
    the live dashboard a 100 TB ingest watches for filter drift (a
    rule whose marginal kill-rate jumps mid-crawl signals a content
    shift long before the batch report would).

    The funnel's algebra is purely additive (per document, each rule
    contributes 0/1 to its marginal-fail and cumulative-pass counters),
    so it is a plain streaming aggregate — three counters per rule, no
    Python worker — run in update mode, and the streaming funnel after
    any batch sequence equals the batch operator over everything
    ingested (asserted bit-identical in tests). The gopher projection
    itself is stateless and runs before any state is paid.
    """
    from flink_helloworld_spark.operators.text import (
        GOPHER_RULE_ORDER,
        gopher_rules,
    )

    flags = gopher_rules(stream, text_col=text_col)
    entries = []
    cum = F.lit(True)
    for i, r in enumerate(GOPHER_RULE_ORDER):
        cum = cum & F.col(r)
        entries.append(
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(r).alias("rule"),
                F.when(F.col(r), 0).otherwise(1).alias("fail"),
                F.when(cum, 1).otherwise(0).alias("cum"),
            )
        )
    contrib = flags.select(F.explode(F.array(*entries)).alias("s")).select(
        "s.*"
    )
    return contrib.groupBy("stage", "rule").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("fail").alias("n_fail_alone"),
        F.sum("cum").alias("n_pass_cum"),
    )
