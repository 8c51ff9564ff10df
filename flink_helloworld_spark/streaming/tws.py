"""Keyed stateful streaming operators on ``transformWithState``.

Spark 4's ``transformWithState`` gives typed state handles
(ValueState / ListState / MapState — the vocabulary of the reference's
Flink keyed state, StateTest.java), per-state TTL and timers, and its
operators chain: stateful operators with different grouping keys run in
ONE streaming query, with a plain shuffle at each re-key seam, like
Flink's keyBy between operators. It is the engine's one keyed-state
API, used in its Row form (Spark 4.1): a key's rows arrive as ``Row``
objects and leave as ``Row`` objects, with no pandas frame per key.
Every single-state keyed operator — here and in ``stateful``,
``event_windows`` and ``cep`` — is a step function on one kernel,
``FoldProcessor`` (``fold_by_key``): one typed ValueState tuple per key
(list-shaped state is an array field of it), read once per key and
micro-batch, folded by ``step(state, key, rows)`` and written back
under one rule. Per-record folds go through the ``each_record``
adapter. Two processors stay hand-written because they need a state
primitive the kernel does not have: ``SessionFlushProcessor`` arms
event-time timers, and ``PostingAppendProcessor`` keeps MapState for
O(1) per-member membership (an array field would make it O(members)).

Runtime requirement: the Python worker speaks protobuf to the JVM, and
the state store must be RocksDB. ``session.build_session`` vendors
protobuf pre-JVM (``_vendor.ensure_protobuf()``) and sets the RocksDB
provider, so every session it builds runs these operators.
"""

from __future__ import annotations

import functools
from collections import Counter
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_helloworld_spark.functions import md5_prefix_long


def _time_mode(ttl_ms: int | None) -> str:
    """State TTL is measured in processing time; Spark rejects a TTL
    state on an operator started with ``timeMode="none"``. A
    processing-time operator asks for another micro-batch on every
    trigger, so a TTL'd query never ends by itself under
    ``trigger(availableNow=True)``: stop it once its input is drained."""
    return "none" if ttl_ms is None else "processingTime"


Step = Callable[[tuple, Any, list[Row]], tuple[tuple, list]]
RecordStep = Callable[[tuple, Any, Row], tuple[tuple, list[tuple]]]


class FoldProcessor(StatefulProcessor):
    """The one keyed-state kernel. All of a key's micro-batch rows pass
    through ``step(state, key, rows) -> (state, out)`` once, as one list
    of ``Row``; ``key`` is the first grouping value and ``out`` is a
    list of tuples in ``columns`` order, emitted as ``Row``. The state
    tuple (typed by ``state_schema``, with arrays for list-shaped state)
    lives in one ValueState between batches, read once per key and
    batch. An absent (or TTL-expired)
    state reads as ``initial``. A key that folds back to ``initial`` has
    its stored slot cleared rather than rewritten: state is O(keys away
    from the start), e.g. CEP keys with open patterns. Any other state
    is written back when it changed; with ``ttl_ms`` set it is written
    on every touch, since the write is what refreshes the TTL.

    State reads back as ``Row``, also inside struct and array fields. A
    step that stores nested state back must rebuild it as plain tuples
    (``_chain_step`` does): pyspark 4.1.2's state writer
    (``_serialize_to_bytes``) rebuilds every nested tuple as
    ``type(v)(<generator>)``, so a nested ``Row`` becomes a
    ``Row(<generator>)`` that fails to pickle. The kernel itself does
    not normalise, so steps with flat state pay no extra pass."""

    def __init__(
        self,
        state_schema: StructType,
        initial: tuple,
        step: Step,
        columns: list[str],
        ttl_ms: int | None = None,
    ) -> None:
        self._schema = state_schema
        self._initial = initial
        self._step = step
        self._columns = columns
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("state", self._schema, self._ttl_ms)
        self._row = Row(*self._columns)

    def handleInputRows(self, key, rows: Iterator[Row], timerValues) -> Iterator[Row]:
        stored = self._state.get()
        state = self._initial if stored is None else stored
        out: list = []
        batch = list(rows)
        if batch:
            state, out = self._step(state, key[0], batch)
        if state == self._initial:
            if stored is not None:
                self._state.clear()
        elif self._ttl_ms is not None or state != stored:
            self._state.update(state)
        for r in out:
            yield self._row(*r)

    def close(self) -> None:
        pass


def nulls_last(*cols: str) -> Callable[[Row], tuple]:
    """Sort key over ``cols`` that puts a null after every value, as a
    pandas ``sort_values`` did, instead of failing the comparison."""
    return lambda r: tuple((r[c] is None, r[c]) for c in cols)


def each_record(order: str | list[str], step: RecordStep) -> Step:
    """Adapt a per-record fold to the kernel: one stable sort of the
    key's whole batch by ``order`` (nulls last), then
    ``step(state, key, rec) -> (state, rows)`` one record at a time."""
    by = nulls_last(*([order] if isinstance(order, str) else order))

    def batch_step(state, key, batch):
        out: list[tuple] = []
        for rec in sorted(batch, key=by):
            state, emitted = step(state, key, rec)
            out.extend(emitted)
        return state, out

    return batch_step


def fold_by_key(
    src: DataFrame,
    key: str | list[str],
    state_schema: StructType,
    initial: tuple,
    step: Step,
    out_schema: StructType,
    ttl_ms: int | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Group ``src`` by ``key`` and run ``step`` over each key's batch on
    ``FoldProcessor``; ``ttl_ms`` expires idle keys in processing time."""
    keys = [key] if isinstance(key, str) else key
    return src.groupBy(*keys).transformWithState(
        FoldProcessor(state_schema, initial, step, out_schema.fieldNames(), ttl_ms),
        outputStructType=out_schema,
        outputMode=output_mode,
        timeMode=_time_mode(ttl_ms),
    )


def value_fold(
    df: DataFrame,
    key: str,
    value: str,
    seq_col: str,
    state_schema: StructType,
    initial: tuple,
    step: RecordStep,
    out_fields: list[StructField],
) -> DataFrame:
    """``fold_by_key`` over (``key``, ``seq_col``, ``value`` as double)
    in ``seq_col`` order: the rolling sum and the count windows. The
    processor sees the fixed names k/seq/v, renamed back to the caller's
    on the way out; output is ``key`` then ``out_fields``."""
    src = df.select(
        F.col(key).alias("k"),
        F.col(seq_col).alias("seq"),
        F.col(value).cast("double").alias("v"),
    )
    out_schema = StructType([StructField("k", df.schema[key].dataType), *out_fields])
    return fold_by_key(
        src, "k", state_schema, initial, each_record("seq", step), out_schema
    ).withColumnsRenamed({"k": key, "seq": seq_col, "v": value})


def rolling_sum_stream(
    df: DataFrame, key: str, value: str, seq_col: str, out_value: str = "running_total"
) -> DataFrame:
    """Exact per-event rolling sum (reference KeyedStream.sum,
    HelloWorldFlinkTest.java:45): emits every input row with the running
    per-key total at that point (arrival order = ``seq_col``).
    Output: ``key``, ``seq_col``, ``value`` (double), ``out_value``."""

    def step(state, k, rec):
        total = round(state[0] + rec["v"], 9)
        return (total,), [(k, rec["seq"], rec["v"], total)]

    out_fields = [
        StructField("seq", df.schema[seq_col].dataType),
        StructField("v", DoubleType()),
        StructField("running_total", DoubleType()),
    ]
    state_schema = StructType([StructField("total", DoubleType())])
    return value_fold(
        df, key, value, seq_col, state_schema, (0.0,), step, out_fields
    ).withColumnRenamed("running_total", out_value)


# --------------------------------------------------------------------------
# Buffer-until-dimension joins, chained per key and across re-keys
# --------------------------------------------------------------------------


def _chain_step(
    fact_cols: list[str],
    dim_cols: list[list[str]],
    seq_col: str,
    max_buffer: int,
) -> Step:
    """N buffer-until-dimension join stages fused per key (reference
    StateTest.java:639-872). Stage i: a dim row overwrites stage i's dim
    and flushes stage i's buffer onward; a record reaching stage i joins
    immediately if the dim is known, else buffers (oldest evicted at
    ``max_buffer``). A record emits once it has passed EVERY stage.

    State: one ``(dim, buf)`` pair per stage. A record is a tuple in
    output-column order, cut after the dims it has joined so far, so
    joining stage i appends stage i's dim tuple and a record past the
    last stage is the output row."""
    n = len(dim_cols)

    def step(state, k, batch):
        # nested state reads back as Row; the state writer needs plain
        # tuples (FoldProcessor)
        dims = [None if dim is None else tuple(dim) for dim, _ in state]
        bufs = [[tuple(r) for r in buf] for _, buf in state]
        out_rows: list[tuple] = []

        def cascade(rec: tuple, i: int) -> None:
            while i < n:
                if dims[i] is None:
                    bufs[i].append(rec)
                    del bufs[i][:-max_buffer]
                    return
                rec += dims[i]
                i += 1
            out_rows.append(rec)

        # a seq_col carried through as a fact column is read back from
        # the chain_seq plumbing column
        for rec in sorted(batch, key=nulls_last("chain_seq")):
            side = rec["chain_side"]
            if side == "F":
                cascade(
                    (k, *(rec["chain_seq" if c == seq_col else c] for c in fact_cols)),
                    0,
                )
            else:
                i = int(side[1:])
                dims[i] = tuple(rec[c] for c in dim_cols[i])
                flushed, bufs[i] = bufs[i], []
                for r in flushed:
                    cascade(r, i)
        return tuple(zip(dims, bufs)), out_rows

    return step


def chain_stateful_join(
    facts: DataFrame,
    dims: list[tuple[DataFrame, list[str]]],
    key: str,
    fact_cols: list[str],
    seq_col: str = "_seq",
    max_buffer: int = 10_000,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """N chained buffer-until-dim joins, all keyed by ``key``, in ONE
    stateful operator (``_chain_step`` on ``fold_by_key``): the
    reference's connect + two-sided ``keyBy`` + ``RichCoFlatMapFunction``
    (SURVEY.md §2.5 J3, HelloWorldFlinkTest.java:291-327,
    StateTest.java:250-303,700-762, func/flat/FlatMapTest.java:22-96).
    Spark has no two-input stateful operator, so the fact stream and
    each dimension stream ``(dim_df, dim_cols)`` are tag-unioned and
    grouped by ``key``. Per key and stage, a dimension row overwrites
    the stage's dimension; a fact joins at once if it is known, else
    buffers (oldest dropped past ``max_buffer``) and flushes the moment
    it arrives. Output = key + fact_cols + each stage's dim cols, one
    row per fully-joined fact. ``seq_col`` (monotonic per key) restores
    arrival order inside a micro-batch, so emission is deterministic;
    ``state_ttl_ms`` clears idle keys after a processing-time TTL
    (reference state TTL, StateTest.java:904-932) — the Redis EXPIRE of
    a changing-dimension lookup. The result is itself a stream, so a
    stage keyed differently can consume it in the same query
    (``capstone_single_query``).

    State per key: field ``s<i>`` per stage, typed
    ``struct<dim: struct<stage i dim cols>, buf: array<struct<key,
    fact cols, dim cols of stages < i>>>``."""
    n = len(dims)
    dim_cols = [cols for _, cols in dims]
    out_fields = (
        [StructField(key, facts.schema[key].dataType)]
        + [StructField(c, facts.schema[c].dataType) for c in fact_cols]
        + [
            StructField(c, dims[i][0].schema[c].dataType)
            for i in range(n)
            for c in dim_cols[i]
        ]
    )
    stages, w = [], 1 + len(fact_cols)
    for i, cols in enumerate(dim_cols):
        stage = StructType(
            [
                StructField("dim", StructType(out_fields[w : w + len(cols)])),
                StructField("buf", ArrayType(StructType(out_fields[:w]))),
            ]
        )
        stages.append(StructField(f"s{i}", stage))
        w += len(cols)
    # seq_col may double as a carried fact column (stage outputs feeding a
    # later re-keyed stage keep their seq) — don't select it twice.
    fact_sel = [c for c in fact_cols if c != seq_col]
    tagged = facts.select(
        key,
        F.col(seq_col).alias("chain_seq"),
        *fact_sel,
        F.lit("F").alias("chain_side"),
    )
    for i, (dim_df, cols) in enumerate(dims):
        tagged = tagged.unionByName(
            dim_df.select(
                key,
                F.col(seq_col).alias("chain_seq"),
                *cols,
                F.lit(f"D{i}").alias("chain_side"),
            ),
            allowMissingColumns=True,
        )
    return fold_by_key(
        tagged,
        key,
        StructType(stages),
        ((None, []),) * n,
        _chain_step(fact_cols, dim_cols, seq_col, max_buffer),
        StructType(out_fields),
        ttl_ms=state_ttl_ms,
    )


def capstone_single_query(
    route: DataFrame,
    cem: DataFrame,
    links: DataFrame,
    orders: DataFrame,
    seq_col: str = "_seq",
) -> DataFrame:
    """The COMPLETE 4-stream reference capstone (StateTest.java:639-872)
    as ONE streaming query — no durable hop at the re-key seam.

    Stage A (keyed by order_id): WaybillOrder links buffer until their
    Order header arrives — the one place the reference topology re-keys.
    Stage B (keyed by waybill_code): route facts chain through the CEM
    dimension and the stage-A output. Spark runs both stateful operators
    in the same query because transformWithState chains; the seam is a
    plain shuffle, exactly like Flink's keyBy between operators.
    """
    stage_a = chain_stateful_join(
        facts=links.select("order_id", seq_col, "waybill_code"),
        dims=[(orders.select("order_id", seq_col, "create_time"), ["create_time"])],
        key="order_id",
        fact_cols=["waybill_code", seq_col],
    )
    order_result = stage_a.select(
        "waybill_code",
        seq_col,
        F.col("order_id").alias("order_code"),
        F.col("create_time").alias("order_create_date"),
    )
    return chain_stateful_join(
        facts=route.select("waybill_code", seq_col, "package_code"),
        dims=[
            (
                cem.select(
                    "waybill_code", seq_col, "site_name", "busi_name", "pickup_date"
                ),
                ["site_name", "busi_name", "pickup_date"],
            ),
            (order_result, ["order_code", "order_create_date"]),
        ],
        key="waybill_code",
        fact_cols=["package_code"],
    )


# --------------------------------------------------------------------------
# Event-time TIMERS: session flush built from raw timer primitives
# --------------------------------------------------------------------------

SESSION_FLUSH_OUTPUT = StructType(
    [
        StructField("k", StringType()),
        StructField("session_start_ms", LongType()),
        StructField("session_end_ms", LongType()),
        StructField("total", DoubleType()),
        StructField("cnt", LongType()),
    ]
)

_SESSION_ROW = Row(*SESSION_FLUSH_OUTPUT.fieldNames())

_SESSION_STATE = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("total", DoubleType()),
        StructField("cnt", LongType()),
        StructField("timer_ms", LongType()),
    ]
)


class SessionFlushProcessor(StatefulProcessor):
    """Session windows rebuilt from the raw stateful-v2 primitives the
    engine's declarative session windows (W5, operators/windows.py /
    session_window) compile away: per-key ValueState + an EVENT-TIME
    TIMER registered at last_event + gap, re-armed on every new event,
    firing when the watermark passes. Flink expresses this as
    KeyedProcessFunction.onTimer; the reference never uses raw timers,
    so this is beyond-reference vocabulary — it exists to prove the
    engine's timer surface end-to-end (register, re-arm via delete,
    expiry callback, emission from the timer path)."""

    def __init__(self, gap_ms: int) -> None:
        self._gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._sess = handle.getValueState("sess", _SESSION_STATE)

    def handleInputRows(self, key, rows: Iterator[Row], timerValues) -> Iterator[Row]:
        stored = self._sess.get()
        start, end, total, cnt, timer_ms = stored or (None, None, 0.0, 0, None)
        for rec in sorted(rows, key=nulls_last("ts_ms")):
            t = rec["ts_ms"]
            if end is not None and t - end >= self._gap_ms:
                # gap reached by a LATER event arriving before the
                # watermark hit old_end+gap: close the old session
                # inline — the timer path only covers keys that go
                # silent. ">=" matches BOTH the timer boundary (the
                # timer at end+gap fires once the watermark reaches
                # it) and Spark's batch session windows (an event at
                # exactly prev+gap is adjacent, not overlapping), so
                # the session-split rule is identical whichever path
                # closes it — micro-batch packing can only affect
                # late-classification, never session boundaries
                yield _SESSION_ROW(key[0], start, end, total, cnt)
                start, end, total, cnt = None, None, 0.0, 0
            start = t if start is None else min(start, t)
            end = t if end is None else max(end, t)
            total = round(total + rec["v"], 9)
            cnt += 1
        if timer_ms is not None:
            self._handle.deleteTimer(timer_ms)  # re-arm: one timer per key
        timer_ms = end + self._gap_ms
        self._handle.registerTimer(timer_ms)
        self._sess.update((start, end, total, cnt, timer_ms))

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[Row]:
        stored = self._sess.get()
        if stored is None:
            return
        start, end, total, cnt, _timer = stored
        self._sess.clear()
        yield _SESSION_ROW(key[0], start, end, total, cnt)

    def close(self) -> None:
        pass


def session_flush_tws(
    stream: DataFrame,
    gap_ms: int,
    key: str = "k",
    ts_col: str = "ts",
    val_col: str = "v",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Timer-based session aggregation: per key, (start, end, sum, count)
    of each burst of events separated by ≥ ``gap_ms``, emitted when the
    event-time watermark passes last_event + gap. ``ts_col`` must be a
    TIMESTAMP column; the watermark is applied here."""
    src = stream.withWatermark(ts_col, watermark_delay).select(
        F.col(key).alias("k"),
        F.unix_millis(F.col(ts_col)).alias("ts_ms"),
        F.col(val_col).cast("double").alias("v"),
        F.col(ts_col).alias("ts"),
    )
    return src.groupBy("k").transformWithState(
        SessionFlushProcessor(gap_ms),
        outputStructType=SESSION_FLUSH_OUTPUT,
        outputMode="append",
        timeMode="eventTime",
    )


# --------------------------------------------------------------------------
# Streaming domain cap: per-key counters with typed ValueState
# --------------------------------------------------------------------------

DOMAIN_CAP_OUTPUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("domain_rank", LongType()),
        StructField("kept", BooleanType()),
    ]
)

_COUNT_STATE = StructType([StructField("n", LongType())])


def streaming_domain_cap(
    stream: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Streaming twin of ``sampling.domain_cap``: an unbounded ingest
    can't rank a domain by md5 (the set is never complete), so the
    streaming semantics are FIRST-ARRIVED-KEPT — one counter per domain,
    every doc emitted with its arrival rank and a kept flag. State is
    one long per domain: bounded by domain cardinality, not corpus
    size."""

    def step(state, source, rec):
        n = state[0] + 1
        return (n,), [(rec["doc_id"], source, n, n <= cap)]

    src = stream.select(
        F.col(domain_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        F.col(seq_col).alias("seq"),
    )
    return fold_by_key(
        src, "source", _COUNT_STATE, (0,), each_record("seq", step), DOMAIN_CAP_OUTPUT
    )


# --------------------------------------------------------------------------
# Streaming weighted reservoir: A-ES in its native habitat
# --------------------------------------------------------------------------

RESERVOIR_OUTPUT = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("weight", LongType()),
        StructField("res_key", DoubleType()),
        StructField("res_rank", IntegerType()),
        StructField("n_seen", LongType()),
    ]
)

_RESERVOIR_STATE = StructType(
    [
        StructField("n_seen", LongType()),
        StructField(
            "res",
            ArrayType(
                StructType(
                    [
                        StructField("res_key", DoubleType()),
                        StructField("doc_id", LongType()),
                        StructField("weight", LongType()),
                    ]
                )
            ),
        ),
    ]
)


def _reservoir_step(k: int) -> Step:
    """Streaming twin of ``sampling.weighted_reservoir_sample`` —
    Efraimidis-Spirakis reservoir sampling in the setting it was
    INVENTED for (an unbounded stream you see once). Because each row's
    exponential-race key is content-derived (computed upstream by the
    SHARED ``sampling.reservoir_key`` column expression), the final
    reservoir after any arrival order / batch split is BIT-IDENTICAL to
    the batch operator over the same rows — unlike the arrival-order
    domain cap, this twin's contract is full batch parity.

    State per stratum: n_seen and an array of at most k (res_key,
    doc_id, weight) structs — O(k) per domain, never
    corpus-proportional. Each batch re-emits the stratum's CURRENT
    reservoir stamped with n_seen, so consumers take the max-n_seen
    emission per stratum as the live sample."""

    def step(state, source, batch):
        n = state[0] + len(batch)
        cur = [tuple(r) for r in state[1]] + [
            (r["res_key"], r["doc_id"], r["weight"]) for r in batch
        ]
        # k smallest (key, doc_id) survive — same total order as the
        # batch rank window
        cur = sorted(cur, key=lambda t: (t[0], t[1]))[:k]
        out = [(source, d, w, rk, i + 1, n) for i, (rk, d, w) in enumerate(cur)]
        return (n, cur), out

    return step


def streaming_weighted_reservoir(
    stream: DataFrame,
    k: int,
    strata_col: str = "source",
    weight_col: str = "weight",
    id_col: str = "doc_id",
    salt: str = "wres",
) -> DataFrame:
    """Per-stratum A-ES weighted reservoir over an unbounded stream;
    rows with weight <= 0 are excluded (never sampleable), keys come
    from the SHARED batch column expression so parity is bit-exact."""
    from flink_helloworld_spark.operators.sampling import reservoir_key

    w = F.col(weight_col).cast("double")
    src = stream.where(w > 0).select(
        F.col(strata_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        F.col(weight_col).cast("long").alias("weight"),
        reservoir_key(id_col, weight_col, salt).alias("res_key"),
    )
    return fold_by_key(
        src, "source", _RESERVOIR_STATE, (0, []), _reservoir_step(k), RESERVOIR_OUTPUT
    )


# --------------------------------------------------------------------------
# Streaming corpus→manifest: gate → dedup → manifest as chained TWS stages
# --------------------------------------------------------------------------

MANIFEST_OUTPUT = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("n_docs", LongType()),
        StructField("total_tokens", LongType()),
        StructField("min_id", LongType()),
        StructField("max_id", LongType()),
        StructField("fingerprint", LongType()),
    ]
)

_SEEN_STATE = StructType([StructField("seen", LongType())])

_DEDUP_PASS = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("tok", LongType()),
        StructField("fp", LongType()),
    ]
)

_MANIFEST_STATE = StructType(
    [
        StructField("n_docs", LongType()),
        StructField("total_tokens", LongType()),
        StructField("min_id", LongType()),
        StructField("max_id", LongType()),
        StructField("fingerprint", LongType()),
    ]
)


def _first_content(state, _h, batch):
    """First-arrival exact dedup keyed on the content hash: one long of
    state per distinct content ever seen (the watermarkless form — pair
    with TTL where the horizon is bounded). Within a batch, ties break
    on doc_id, so replay is deterministic."""
    if state[0]:
        return state, []
    rec = min(batch, key=nulls_last("doc_id"))
    return (1,), [tuple(rec[c] for c in _DEDUP_PASS.fieldNames())]


def _manifest_step(state, shard_id, batch):
    """Incremental per-shard manifest: five scalars per shard (adds,
    min/max, XOR — all associative+commutative), re-emitted whenever the
    shard is touched; after any batch sequence the values equal the
    batch ``layout.shard_manifest`` over everything kept. Input rows:
    (shard_id, doc_id, tok, fp)."""
    n, tok, lo, hi, fp = state
    # the batch aggregate's null rules: count(*) counts every row,
    # sum/min/max/bit_xor skip nulls
    n += len(batch)
    for r in batch:
        t, d, h = r["tok"], r["doc_id"], r["fp"]
        if t is not None:
            tok += t
        if d is not None:
            lo = d if lo is None else min(lo, d)
            hi = d if hi is None else max(hi, d)
        if h is not None:
            fp ^= h
    return (n, tok, lo, hi, fp), [(shard_id, n, tok, lo, hi, fp)]


def shard_manifest_fold(tagged: DataFrame, output_mode: str = "append") -> DataFrame:
    """The one manifest fold over ``layout.shard_tag_columns`` rows,
    keyed by shard_id (``_manifest_step``)."""
    return fold_by_key(
        tagged,
        "shard_id",
        _MANIFEST_STATE,
        (0, 0, None, None, 0),
        _manifest_step,
        MANIFEST_OUTPUT,
        output_mode=output_mode,
    )


def streaming_corpus_manifest_tws(
    stream: DataFrame,
    shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The streaming twin of ``dedup.corpus_to_manifest``'s closing
    chain as ONE query with TWO chained transformWithState operators
    across the re-key seam (content_hash → shard_id), the same topology
    trick as ``capstone_single_query``: stateless Gopher-core gate →
    first-arrival content dedup → incremental shard manifest.

    Scale contract: the manifest inputs (shard_id, tok, fp) are computed
    in the stateless projection BEFORE any shuffle, so document TEXT
    never leaves its scan partition — both stateful exchanges carry four
    integers per doc. State: one long per distinct content + five longs
    per shard."""
    from flink_helloworld_spark.operators.layout import shard_tag_columns
    from flink_helloworld_spark.operators.text import gopher_core_gate

    tagged = stream.where(gopher_core_gate(F.col(text_col))).select(
        F.md5(F.col(text_col)).alias("content_hash"),
        *shard_tag_columns(shards, text_col, id_col),
    )
    deduped = fold_by_key(
        tagged, "content_hash", _SEEN_STATE, (0,), _first_content, _DEDUP_PASS
    )
    return shard_manifest_fold(deduped)


# --- streaming LSH near-dup gate --------------------------------------------

_LSH_CLAIM_STATE = StructType([StructField("first_doc", LongType())])
_LSH_CLAIM_OUT = StructType(
    [StructField("doc_id", LongType()), StructField("is_first", BooleanType())]
)
_LSH_VERDICT_STATE = StructType(
    [StructField("n_seen", IntegerType()), StructField("n_first", IntegerType())]
)
LSH_VERDICT_OUTPUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bands", IntegerType()),
        StructField("n_first", IntegerType()),
        StructField("kept", BooleanType()),
    ]
)


def _claim_step(carry: list[str]) -> Step:
    """Per-LSH-bucket first-claim state: ONE long per bucket ever touched
    (the earliest claimant), independent of how many docs hash there.
    Emits (doc_id, is_first, *carry) per arrival. In-order contract:
    with doc_id monotone in arrival order (the batch twin's rule), the
    running min equals the true first arrival; the min() form also keeps
    replayed / reordered batches convergent to the batch
    `dedup.lsh_first_arrival` verdict. Under a TTL an expired claim
    forgets its first arrival, so a later near-dup is admitted again —
    the state-size/recall dial an unbounded 100 TB ingest turns."""

    def step(state, _bucket, batch):
        m = min(r["doc_id"] for r in batch)
        first = m if state[0] is None else min(state[0], m)
        return (first,), [
            (r["doc_id"], r["doc_id"] == first, *(r[c] for c in carry))
            for r in batch
        ]

    return step


def _claim(
    src: DataFrame, keys: list[str], out: StructType, ttl_ms: int | None
) -> DataFrame:
    carry = out.fieldNames()[len(_LSH_CLAIM_OUT.fields):]
    return fold_by_key(
        src, keys, _LSH_CLAIM_STATE, (None,), _claim_step(carry), out, ttl_ms
    )


def _verdict_step(bands: int, carry: list[str]) -> Step:
    """Collects the per-band first-claim votes back on the doc key and
    emits ONE verdict row once all `bands` votes are in (they travel in
    the same micro-batch — one input row fans out to `bands` claim rows
    — so the accumulator is only stored if a future engine splits a
    doc's claim rows across batches). Carry columns (identical on every
    claim row of a doc) pass through from the first row seen."""

    def step(state, doc_id, batch):
        n_seen = state[0] + len(batch)
        n_first = state[1] + sum(r["is_first"] for r in batch)
        if n_seen < bands:
            return (n_seen, n_first), []
        row = (doc_id, n_seen, n_first, n_seen == n_first)
        return (0, 0), [row + tuple(batch[0][c] for c in carry)]

    return step


def _verdicts(claims: DataFrame, bands: int, out: StructType) -> DataFrame:
    carry = out.fieldNames()[len(LSH_VERDICT_OUTPUT.fields):]
    return fold_by_key(
        claims, "doc_id", _LSH_VERDICT_STATE, (0, 0), _verdict_step(bands, carry), out
    )


def streaming_lsh_dedup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    carry_cols: list[str] | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup gate — the streaming twin of
    ``dedup.lsh_first_arrival``, as ONE query with TWO chained
    transformWithState operators across the re-key seam (band bucket →
    doc), the `streaming_corpus_manifest_tws` topology.

    A doc is kept iff it is the first arrival on EVERY one of its band
    buckets; all arrivals claim their buckets. After any in-order batch
    sequence the emitted verdicts are doc-for-doc identical to the batch
    operator over the union of batches (t: test_streaming).

    Scale contract: signatures and band keys are computed in the
    STATELESS projection before any shuffle — document text never leaves
    its scan partition; both stateful exchanges carry (long, int, md5) /
    (long, bool) rows. State: one long per distinct bucket ever claimed,
    transient per-doc accumulators. ``state_ttl_ms`` bounds the dedup
    horizon for a truly unbounded ingest: expired bucket claims forget
    their first arrival (the state-size/recall dial) — setting it flips
    the claim stage to processingTime mode, the only mode TTL states
    are assignable under. Near-dup/LSH was previously documented as
    batch-only (streaming/jobs.py); this closes that gap for the
    single-pass first-arrival contract — pair-verified Jaccard dedup
    (`minhash_dedup_pairs`) stays batch.
    """
    from flink_helloworld_spark.operators.dedup import (
        _buckets_from_shingles,
        _shingle_sets,
    )
    from flink_helloworld_spark.operators.text import _words

    carry = carry_cols or []
    carry_fields = [StructField(c, stream.schema[c].dataType) for c in carry]
    claim_out = StructType(list(_LSH_CLAIM_OUT.fields) + carry_fields)
    verdict_out = StructType(list(LSH_VERDICT_OUTPUT.fields) + carry_fields)

    docs = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        _words(F.col(text_col)).alias("ws"),
        *carry,
    )
    short = docs.where(F.size("ws") < shingle_n).select(
        "doc_id",
        F.lit(0).cast("int").alias("n_bands"),
        F.lit(0).cast("int").alias("n_first"),
        F.lit(True).alias("kept"),
        *carry,
    )
    buckets = _buckets_from_shingles(
        _shingle_sets(docs, shingle_n), num_hashes, bands, carry
    )
    claims = _claim(buckets, ["band_id", "band_key"], claim_out, state_ttl_ms)
    return _verdicts(claims, bands, verdict_out).unionByName(short)


def streaming_embedding_dedup(
    stream: DataFrame,
    planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Embedding-space streaming dedup gate — the vector-side twin of
    ``streaming_lsh_dedup`` and the streaming form of
    ``similarity.embedding_first_arrival``: a vector is admitted iff it
    is the first arrival in its hyperplane bucket (cosine-similar
    vectors agree on most sign bits, so near-dups collide; ``planes``
    is the recall dial, measured on planted data by
    similarity_recall_curve).

    ONE transformWithState operator — the hyperplane bucket is a single
    key per vector (unlike MinHash bands), so there is no re-key seam
    and no verdict stage. Emits ``(vec_id, bucket, kept)`` per arrival.

    Batch-parity precondition: this gate keeps the FIRST ARRIVAL per
    bucket, while the batch twin keeps the LOWEST ``vec_id`` — the
    pinned doc-for-doc parity therefore holds only when ids are
    MONOTONE in arrival order (the in-order contract every streaming
    gate here runs under, and what the parity tests replay). Under
    out-of-order arrival the verdicts converge per-bucket to the
    earliest-seen claimant, which may differ from the batch verdict.

    Scale contract: the bucket is computed in the STATELESS projection,
    so the embedding array never crosses the exchange — the stateful
    shuffle carries (long, long) rows. State: one long per bucket ever
    claimed (≤ 2^planes entries — bounded by construction, no TTL
    required; ``state_ttl_ms`` still composes for horizon semantics
    consistent with the text gate)."""
    from flink_helloworld_spark.operators.similarity import hyperplane_bucket

    out = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("is_first", BooleanType()),
            StructField("bucket", LongType()),
        ]
    )
    b = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        hyperplane_bucket(F.col(vec_col), planes, dims).alias("bucket"),
    )
    claims = _claim(b, ["bucket"], out, state_ttl_ms)
    return claims.select(
        F.col("doc_id").alias(id_col),
        "bucket",
        F.col("is_first").alias("kept"),
    )


def streaming_embedding_dedup_banded(
    stream: DataFrame,
    planes: int = 8,
    bands: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming banded (OR-construction) embedding gate — the TWS twin
    of ``similarity.embedding_first_arrival_banded`` and the vector-side
    ``streaming_lsh_dedup``: each arrival claims a bucket in ``bands``
    independent md5-rotated hyperplane sets and is admitted iff it is
    the first claimant on EVERY band. This removes the single-band
    gate's 2^planes admission ceiling (VERDICT r6 item 1): total
    capacity is now per-band-bucket first-arrival, recall rises with
    ``bands``, and a FALSE drop needs full sign agreement in some band.

    Topology: the same two chained transformWithState operators across
    the re-key seam as the text gate — (band, bucket) claims → per-doc
    verdict — reusing the claim and verdict steps verbatim (the steps
    only see ``doc_id``).

    Scale contract: all band buckets are computed in the STATELESS
    projection, so the embedding never crosses an exchange — the claim
    shuffle carries (long, int, long) rows, the verdict shuffle
    (long, bool). State: one long per (band, bucket) ever claimed —
    ≈ bands × distinct-content claims (measured in SCALE_NOTES) —
    plus transient per-doc accumulators. Batch-parity precondition:
    first-arrival vs the batch twin's lowest-id — identical only under
    id-monotone arrival (the in-order contract the parity tests replay).
    ``state_ttl_ms`` bounds the dedup horizon exactly as in
    ``streaming_lsh_dedup``.
    """
    from flink_helloworld_spark.operators.similarity import hyperplane_bucket

    incidence = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
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
    ).select(
        "doc_id",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.bucket").alias("bucket"),
    )
    claims = _claim(incidence, ["band_id", "bucket"], _LSH_CLAIM_OUT, state_ttl_ms)
    return _verdicts(claims, bands, LSH_VERDICT_OUTPUT).select(
        F.col("doc_id").alias(id_col), "n_bands", "n_first", "kept"
    )


def _verified_claim_step(
    threshold: float,
    dims: int,
    sq_mn: list[float] | None,
    sq_scale: list[float] | None,
) -> Step:
    """Per-(band, bucket) OWNER state for the VERIFIED gate: the lowest
    arrival's id AND vector (the state-size trade the unverified gates
    avoid — ~dims doubles per claimed bucket instead of one long). A
    non-owner arrival is a verified collision iff its rounded cosine
    against the owner is >= threshold; it is emitted as
    ``is_first = NOT verified`` so the standard verdict step (kept iff
    'first' on every band) composes unchanged downstream.

    With ``sq_mn``/``sq_scale`` (offline-trained per-dimension SQ8
    params — the FAISS scalar-quantizer-training shape; VERDICT r7
    item 3) the owner state holds int8 CODES packed as ``dims`` BYTES
    instead of ``dims`` float64s (~8× smaller), and the cosine runs
    against the RECONSTRUCTED owner — the exact contract the batch
    twin's ``sq=True`` form replays with corpus-trained stats.

    Malformed vectors (null or wrong length — ADVICE r7) do not kill
    the query: they are unverifiable, so they are forgiven
    (``is_first = True``), matching the batch twin where a null vector
    yields a null cosine that never passes the threshold. A malformed
    FIRST arrival still claims its bucket (again like the batch twin's
    lowest-id rule) but stores an empty vector, so later collisions
    against it are likewise forgiven.

    In-order contract: with ids monotone in arrival order the owner
    equals the batch twin's lowest-id claimant; within a micro-batch
    rows are processed in id order so the batch's own minimum claims
    before later rows verify against it — doc-for-doc the batch
    ``embedding_first_arrival_verified`` verdict (parity-pinned)."""
    import numpy as np

    if (sq_mn is None) != (sq_scale is None):
        raise ValueError("sq_mn and sq_scale must be given together")
    if sq_mn is not None and (len(sq_mn) != dims or len(sq_scale) != dims):
        raise ValueError(
            f"SQ params must have {dims} entries, got {len(sq_mn)}/{len(sq_scale)}"
        )
    sq = sq_mn is not None
    if sq:
        mn, scale = np.asarray(sq_mn, np.float64), np.asarray(sq_scale, np.float64)

    def encode(vec) -> bytes:
        """SQ8-encode one vector to ``dims`` bytes — sq_quantize's
        formula (half-away rounding, clamp to [0, 255], constant dims
        code to 0)."""
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = (np.asarray(vec, dtype=np.float64) - mn) / scale
        raw = np.floor(np.abs(raw) + 0.5) * np.sign(raw)  # half-away
        codes = np.clip(raw, 0.0, 255.0)
        codes[scale <= 0.0] = 0.0
        return bytes(codes.astype(np.uint8))

    def step(state, _bucket, batch):
        batch = sorted(batch, key=nulls_last("doc_id"))
        ids = np.array([r["doc_id"] for r in batch], dtype=np.int64)
        # tolerate null / ragged embeddings instead of crashing the
        # whole streaming query: invalid rows are unverifiable
        vecs = [r["vec"] for r in batch]
        valid = np.array([v is not None and len(v) == dims for v in vecs])
        mat = np.zeros((len(vecs), dims), dtype=np.float64)
        for i, v in enumerate(vecs):
            if valid[i]:
                mat[i] = np.asarray(v, dtype=np.float64)
        owner_id, stored = state
        if owner_id is None:
            owner_id = int(ids[0])
            if not valid[0]:
                stored = b"" if sq else []
            elif sq:
                stored = encode(vecs[0])
            else:
                stored = [float(x) for x in mat[0]]
        if stored is None or not len(stored):
            verified = np.zeros(len(ids), dtype=bool)  # malformed owner
        else:
            # under SQ the stored side is what every arrival compares
            # against: the reconstructed owner
            owner_vec = (
                mn + np.frombuffer(stored, dtype=np.uint8) * scale
                if sq
                else np.asarray(stored, dtype=np.float64)
            )
            # 6-dp rounded cosine vs the ONE owner — half-away rounding,
            # the engine's BLAS/oracle parity contract
            denom = np.linalg.norm(mat, axis=1) * float(np.linalg.norm(owner_vec))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = mat @ owner_vec / denom
            cos = np.floor(np.abs(cos) * 10**6 + 0.5) / 10**6 * np.sign(cos)
            verified = (ids != owner_id) & valid & (denom > 0) & (cos >= threshold)
        return (owner_id, stored), list(zip(ids.tolist(), (~verified).tolist()))

    return step


def streaming_embedding_dedup_verified(
    stream: DataFrame,
    threshold: float = 0.9,
    planes: int = 8,
    bands: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sq_mn: list[float] | None = None,
    sq_scale: list[float] | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming VERIFIED banded embedding gate — the TWS twin of
    ``similarity.embedding_first_arrival_verified``: a (band, bucket)
    collision only counts against a vector after an exact rounded
    cosine against the bucket's OWNER; admitted iff no band collision
    verifies at ``threshold``.

    Documented trades vs the unverified streaming gates, now shipped
    instead of deferred: (a) bucket state holds the owner's VECTOR —
    ~``dims`` doubles per claimed bucket instead of one long, or, with
    ``sq_mn``/``sq_scale`` (offline-trained per-dim SQ8 params, e.g.
    one bounded collect of ``similarity.sq_quantize``'s stats row),
    ~``dims`` BYTES of int8 codes (~8× leaner; the cosine then runs
    against the reconstructed owner — the ``sq=True`` batch twin's
    exact contract, whose recall grid shows zero false drops at
    threshold 0.9); (b) the embedding crosses the claim exchange once
    per band (verification needs it), so the claim shuffle carries
    (long, int, long, ``dims``×double) rows. The verdict seam and
    output contract are the standard two-operator topology —
    the verdict step composes unchanged because
    ``is_first := NOT verified-collision`` maps the verified rule onto
    the kept-iff-first-everywhere contract.

    ``state_ttl_ms`` bounds the dedup horizon exactly as in the banded
    and LSH gates (ADVICE r7: this gate's per-bucket state is the
    heaviest of all, so the bounded horizon matters most here); an
    expired owner forgets, and the next arrival re-claims. Malformed
    vectors (null / wrong length) are forgiven rather than fatal —
    the batch twin's null-cosine tolerance.

    Emits ``(vec_id, n_bands, n_first, kept)``; ``n_verified`` of the
    batch twin = n_bands − n_first (parity-pinned under id-monotone
    arrival, the in-order contract of every gate here).
    """
    from flink_helloworld_spark.operators.similarity import hyperplane_bucket

    incidence = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
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
    ).select(
        "doc_id",
        "vec",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.bucket").alias("bucket"),
    )
    owner = StructField(
        "owner",
        BinaryType() if sq_mn is not None else ArrayType(DoubleType()),
    )
    claims = fold_by_key(
        incidence,
        ["band_id", "bucket"],
        StructType([StructField("owner_id", LongType()), owner]),
        (None, None),
        _verified_claim_step(threshold, dims, sq_mn, sq_scale),
        _LSH_CLAIM_OUT,
        state_ttl_ms,
    )
    verdicts = _verdicts(claims, bands, LSH_VERDICT_OUTPUT)
    return verdicts.select(
        F.col("doc_id").alias(id_col), "n_bands", "n_first", "kept"
    )


def streaming_near_dedup_front(
    stream: DataFrame,
    cap: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The NEAR-DUP streaming pretrain front: Gopher-core quality gate →
    LSH first-arrival near-dup gate → per-domain arrival cap, composed
    as ONE streaming query with THREE chained transformWithState
    operators across two re-key seams (band bucket → doc → domain).
    `streaming_pretrain_front` dedups exact content within a watermark;
    this form catches near-duplicates with unbounded horizon at one long
    of state per claimed bucket — the missing streaming stage that
    previously required a scheduled batch pass over the lake.

    Emits (doc_id, source, domain_rank, kept) for every doc that passes
    the gate AND the near-dup gate; the stateless quality gate runs
    FIRST so stateful operators only pay state for survivable docs.
    Output is doc-for-doc the sequential composition of the three batch
    rules under the in-order contract (t: test_streaming_properties).
    """
    from flink_helloworld_spark.operators.text import gopher_core_gate

    gated = stream.where(gopher_core_gate(F.col(text_col)))
    verdicts = streaming_lsh_dedup(
        gated,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        carry_cols=[domain_col],
    )
    survivors = verdicts.where(F.col("kept")).select(
        "doc_id", F.col(domain_col), F.col("doc_id").alias("seq")
    )
    return streaming_domain_cap(
        survivors, cap=cap, domain_col=domain_col, id_col="doc_id", seq_col="seq"
    )


# --------------------------------------------------------------------------
# Streaming heavy hitters: sharded Misra-Gries with mergeable-summary batching
# --------------------------------------------------------------------------

HEAVY_HITTERS_OUTPUT = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("item", StringType()),
        StructField("weight", LongType()),
        StructField("err_total", LongType()),
        StructField("n_seen", LongType()),
    ]
)

_HH_STATE = StructType(
    [
        StructField("n_seen", LongType()),
        StructField("err_total", LongType()),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("item", StringType()),
                        StructField("weight", LongType()),
                    ]
                )
            ),
        ),
    ]
)


def misra_gries_step(state, bucket, batch, capacity: int):
    """Misra-Gries frequent-items sketch over an unbounded stream —
    bounded state (≤ ``capacity`` counters per bucket) with the classic
    deterministic guarantees, NOT a sampling estimate:

    - ``weight ≤ true_count ≤ weight + err_total`` for every tracked
      item (err_total = the bucket's accumulated decrement mass);
    - every item whose true bucket count exceeds
      ``n_seen / (capacity + 1)`` is GUARANTEED tracked;
    - when a bucket's distinct items never exceed ``capacity``, the
      sketch is EXACT (err_total = 0).

    Each micro-batch applies the mergeable-summaries batch step
    (Agarwal et al., PODS'12): exact batch counts merge into the state
    counters; if more than ``capacity`` survive, every counter drops by
    the (capacity+1)-th largest weight and non-positive counters leave
    — one decrement charged to ``err_total``. The guarantees hold for
    ANY arrival order / micro-batch split (the exact weights, like any
    MG summary, are split-dependent; the bounds are not).

    Emission contract = the weighted reservoir's: every batch re-emits
    the bucket's CURRENT tracked set stamped with ``n_seen``; consumers
    read the max-``n_seen`` emission per bucket.

    State is O(capacity) (item, weight) structs per bucket FOREVER — the
    entire point of a frequent-items sketch at 100 TB: 1024 buckets ×
    256 counters ≈ 8 MB of state for exact-bounded top talkers over any
    volume."""
    n_seen, err_total, items = state
    weights = dict(items)
    for item, cnt in Counter(r["item"] for r in batch).items():
        weights[item] = weights.get(item, 0) + cnt
    if len(weights) > capacity:
        # (cap+1)-th largest weight is the decrement (ties on weight
        # broken by item so the step is deterministic)
        ordered = sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))
        d = ordered[capacity][1]
        weights = {k: v - d for k, v in ordered if v - d > 0}
        err_total += d
    items = sorted(weights.items())
    n_seen += len(batch)
    out = [(bucket, item, w, err_total, n_seen) for item, w in items]
    return (n_seen, err_total, items), out


def streaming_heavy_hitters(
    stream: DataFrame,
    item_col: str,
    capacity: int = 256,
    n_buckets: int = 32,
) -> DataFrame:
    """Sharded streaming frequent-items: items hash into ``n_buckets``
    key groups (every occurrence of an item lands in ONE bucket, so
    per-bucket Misra-Gries guarantees apply to the item's full count),
    each group keeps a ``capacity``-counter sketch. The streaming twin
    of the batch ``cms_heavy_hitters`` estimate — deterministic bounds
    instead of probabilistic ones, and O(n_buckets × capacity) state
    instead of a second pass.
    """
    # null items carry no count (COUNT semantics, same as the KMV twin's
    # isNotNull gate) — letting them through would count a null item,
    # which the batch estimate never does
    src = stream.where(F.col(item_col).isNotNull()).select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(int(n_buckets)))
        .cast("int")
        .alias("bucket"),
        F.col(item_col).cast("string").alias("item"),
    )
    step = functools.partial(misra_gries_step, capacity=int(capacity))
    return fold_by_key(src, "bucket", _HH_STATE, (0, 0, []), step, HEAVY_HITTERS_OUTPUT)


# --------------------------------------------------------------------------
# Streaming distinct-count sketch: per-key KMV with exact batch parity
# --------------------------------------------------------------------------

KMV_OUTPUT = StructType(
    [
        StructField("k", StringType()),
        StructField("kth_min", LongType()),
        StructField("n_kept", LongType()),
        StructField("distinct_estimate", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)

_KMV_STATE = StructType(
    [StructField("n_seen", LongType()), StructField("mins", ArrayType(LongType()))]
)


def _kmv_step(k: int) -> Step:
    """Per-key K-Minimum-Values distinct-count sketch over an unbounded
    stream — O(k) state per key forever, and (unlike the MG heavy-hitter
    or the arrival-order domain cap) a sketch whose value is
    ORDER-INDEPENDENT: the k smallest distinct hashes of a set don't
    depend on arrival order or batch splits, so the streaming sketch is
    BIT-IDENTICAL to batch ``rollups.kmv_distinct`` over the same rows —
    full batch parity, the reservoir-twin contract.

    The upstream column expression computes the SAME md5-derived 60-bit
    hash as the batch operator (``functions.md5_prefix_long``), so
    estimates (the (k-1)/(kth_min/2^60) estimator, exact below k) agree
    exactly.

    Emission: each batch re-emits the key's current sketch summary
    stamped with n_seen; consumers take the max-n_seen row per key."""

    def step(state, key, batch):
        n_seen = state[0] + len(batch)
        cur = sorted(set(state[1]).union(r["h"] for r in batch))[:k]
        kth, n_kept = cur[-1], len(cur)
        if n_kept < k:
            est = float(n_kept)
        elif kth == 0:
            # ~2^-60 event; the batch twin's SQL division yields
            # Infinity rather than raising — match it instead of
            # killing the streaming query with ZeroDivisionError
            est = float("inf")
        else:
            est = float(k - 1) / (float(kth) / float(1 << 60))
        return (n_seen, cur), [(key, kth, n_kept, est, n_seen)]

    return step


def streaming_kmv_distinct(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Streaming per-key distinct-count sketch: the exact-parity twin of
    batch ``rollups.kmv_distinct`` (same md5 hash, same estimator, same
    under-k exactness) with O(k) state per key. The windowless
    approx-COUNT-DISTINCT a live ingest dashboard needs without holding
    the value set."""
    src = stream.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).cast("string").alias("k"),
        md5_prefix_long(F.col(value_col).cast("string")).alias("h"),
    )
    return fold_by_key(src, "k", _KMV_STATE, (0, []), _kmv_step(int(k)), KMV_OUTPUT)


IVF_POSTING_OUTPUT = StructType(
    [
        StructField("centroid_id", LongType()),
        StructField("member_id", LongType()),
        StructField("mvec", ArrayType(DoubleType())),
    ]
)

_IVF_MEMBER_KEY = StructType([StructField("member_id", LongType())])
_IVF_MEMBER_VAL = StructType([StructField("one", IntegerType())])


class PostingAppendProcessor(StatefulProcessor):
    """Per-CELL posting-list maintenance for the streaming IVF ingest
    (the streaming twin of ``similarity.ivf_index_append`` — VERDICT r8
    item 2): keyed by ``centroid_id``, MapState holds one entry per
    member ever posted to this cell, and an arrival is emitted as a NEW
    posting row iff its ``member_id`` has not posted here before —
    first-arrival commit, the bucket-claim contract applied
    to posting lists, so at-least-once redelivery upstream still grows
    the artifact exactly once per vector.

    State: ONE MapState entry (a long key) per distinct posted member —
    the vector itself is NOT state; it rides the emitted posting row
    straight to the sink. O(distinct members) forever, flat under
    redelivery, and ``ttl_ms`` bounds the dedup horizon exactly as in
    the LSH/embedding gates (after expiry a re-arrival re-posts; the
    downstream compaction dedups on member_id)."""

    def __init__(self, ttl_ms: int | None = None) -> None:
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._seen = handle.getMapState(
            "members", _IVF_MEMBER_KEY, _IVF_MEMBER_VAL, self._ttl_ms
        )

    def handleInputRows(self, key, rows: Iterator[Row], timerValues) -> Iterator[Row]:
        # the input rows are posting rows already: emit them as they came
        for r in rows:
            mk = (r["member_id"],)
            if not self._seen.containsKey(mk):
                self._seen.updateValue(mk, (1,))
                yield r

    def close(self) -> None:
        pass


def streaming_ivf_ingest(
    stream: DataFrame,
    index: DataFrame,
    n_super_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming IVF index MAINTENANCE — the transformWithState twin of
    the batch ``ivf_index_append`` seam (VERDICT r8 'next round' item
    2): vectors arriving on an unbounded stream are routed through the
    FROZEN persisted quantizer (supers + cells of a ``build_ivf_index``
    artifact, never retrained) into incrementally growing posting
    lists. The emitted rows ARE posting rows ``(centroid_id, member_id,
    mvec)`` — append them to the lake artifact (or feed a
    ``bucketBy(centroid_id)`` writer) and ``ivf_index_query`` scans the
    grown index with no other change.

    Parity contract (test-pinned across >=3 micro-batch splits AND
    redelivery): routing is per-row against frozen arrays
    (``similarity.route_frozen_np``, byte-identical to the batch
    ``_route_cells`` rank-1 routing), so the UNION of emitted postings
    equals ``ivf_index_append(index, [], all_rows_distinct)`` no matter
    how the stream is chopped — the KMV order-independence argument,
    here because routing is stateless and commitment is first-arrival
    per (cell, member).

    Scale shape: the quantizer is ONE bounded collect at plan time
    (C + sqrt(C) rows — index metadata, the ``_assign_cells_blas``
    contract) broadcast to the routing workers; the stateless
    ``mapInPandas`` route adds no shuffle; the single exchange is the
    groupBy(centroid_id) claim shuffle carrying (long, long, vector)
    posting rows; MapState holds one long key per distinct posted
    member — flat under redelivery, linear in distinct ingest."""
    import numpy as np
    from flink_helloworld_spark.operators.similarity import (
        collect_ivf_quantizer,
        route_frozen_np,
    )

    quant = collect_ivf_quantizer(index)
    spark = stream.sparkSession
    b_quant = spark.sparkContext.broadcast(quant)

    src = stream.select(
        F.col(id_col).cast("long").alias("member_id"),
        F.col(vec_col).cast("array<double>").alias("mvec"),
    )

    def route(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["mvec"]), dtype=np.float64)
            cells = route_frozen_np(
                mat, b_quant.value, n_super_probe, round_dp
            )
            hit = cells >= 0
            if not hit.any():
                continue
            out = pdf.loc[hit, ["member_id", "mvec"]].copy()
            out.insert(0, "centroid_id", cells[hit])
            yield out

    routed = src.mapInPandas(
        route, "centroid_id long, member_id long, mvec array<double>"
    )
    return routed.groupBy("centroid_id").transformWithState(
        PostingAppendProcessor(state_ttl_ms),
        outputStructType=IVF_POSTING_OUTPUT,
        outputMode="append",
        timeMode=_time_mode(state_ttl_ms),
    )


def streaming_ivf_delete(
    stream: DataFrame,
    postings: DataFrame,
    id_col: str = "vec_id",
    state_ttl_ms: int | None = None,
    manifest: DataFrame | None = None,
) -> DataFrame:
    """Streaming index DELETION — the live twin of
    ``similarity.ivf_index_delete``, completing the streaming
    maintenance pair (ingest grows the artifact, this one retracts
    from it): delete requests (ids) arriving on an unbounded stream
    emit TOMBSTONE posting rows ``(centroid_id, member_id, mvec=NULL)``
    exactly once per (cell, member) — append them to the same lake
    artifact and ``live_postings`` / ``ivf_store_compact`` consume
    them with no other change.

    Each id finds its home cell through a STREAM-STATIC equi-join
    against the LIVE member keys. Pass ``manifest`` (the persisted
    ``ivf_manifest_read`` member→cell projection,
    ``member_bucket``-partitioned two-long rows) and the per-trigger
    static-side read is manifest-sized — it no longer scales with the
    posting payload (vectors) and does no per-batch tombstone
    resolution; this is the operating form at scale. Without it the
    lookup derives from ``live_postings(postings)`` inline (the
    self-contained form — full-artifact read per micro-batch, the
    documented cost of id-only deletes at sandbox scale). Either way
    the lookup side excludes already-tombstoned members, so a member
    deleted in the artifact resolves like an absent id and emits NO
    second tombstone (the batch ``ivf_index_delete`` 'deleting twice'
    contract). Absent ids drop at the join (deleting nothing is a
    no-op, the batch contract).

    Exactly-once under at-least-once redelivery rides the SAME
    ``PostingAppendProcessor`` the ingest twin uses — first-arrival
    commit per (cell, member) on MapState, one long per distinct
    deleted member forever (``state_ttl_ms`` bounds the horizon; a
    post-expiry re-delete re-emits a tombstone, and compaction folds
    duplicates away)."""
    from flink_helloworld_spark.operators.similarity import live_postings

    mvec_t = postings.schema["mvec"].dataType
    ids = stream.select(F.col(id_col).cast("long").alias("member_id"))
    if manifest is not None:
        lookup = manifest.select("centroid_id", "member_id")
    else:
        lookup = (
            live_postings(postings)
            .select("centroid_id", "member_id")
            .distinct()
        )
    tomb = ids.join(lookup, "member_id").select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.col("member_id").cast("long").alias("member_id"),
        F.lit(None).cast(mvec_t).alias("mvec"),
    )
    return tomb.groupBy("centroid_id").transformWithState(
        PostingAppendProcessor(state_ttl_ms),
        outputStructType=IVF_POSTING_OUTPUT,
        outputMode="append",
        timeMode=_time_mode(state_ttl_ms),
    )


TEXT_POSTING_OUTPUT = StructType(
    [
        StructField("term", StringType()),
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
    ]
)
TEXT_DELETE_OUTPUT = StructType([StructField("doc_id", LongType())])
_DOC_SEEN_STATE = StructType([StructField("one", LongType())])


def _doc_first_arrival(emit: Callable[[int, Row], list[tuple]]) -> Step:
    """First-arrival commit keyed by ``doc_id`` — the exactly-once seam
    for the TEXT index's streaming maintenance, the
    ``PostingAppendProcessor`` contract applied to documents: the first
    time a doc id is ever seen, ``emit(doc_id, first_row)`` rows go out;
    redeliveries (same trigger or later) emit nothing. State is ONE flag
    per distinct doc forever (``ttl_ms`` bounds the horizon; after
    expiry a re-arrival re-emits and the store-side set/compaction
    semantics absorb the duplicate)."""

    def step(state, doc_id, batch):
        if state[0]:
            return state, []
        return (1,), emit(doc_id, batch[0])

    return step


def _positional_postings(doc_id: int, rec: Row) -> list[tuple]:
    """Tokenize EXACTLY like the engine-wide ``_words`` split
    (``split(' ')``, empty tokens dropped — the BM25/term_postings
    contract) into ``positional_postings`` rows ``(term, doc_id, pos)``."""
    text = rec["text"]
    words = [w for w in (text.split(" ") if isinstance(text, str) else []) if w != ""]
    return [(w, doc_id, pos) for pos, w in enumerate(words, start=1)]


def streaming_postings_ingest(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming TEXT-INDEX ingest — the live twin of
    ``ranking.positional_postings`` (the text seam's analog of
    ``streaming_ivf_ingest``): documents arriving on an unbounded
    stream emit their positional posting rows exactly once per doc
    under at-least-once redelivery; append the output to the
    ``postings_store_write`` artifact and every probe/BM25/phrase
    consumer composes with no other change. State: one flag per
    distinct doc (TTL-bounded); the postings themselves ride the
    emitted rows, never state."""
    src = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).cast("string").alias("text"),
    )
    return fold_by_key(
        src,
        "doc_id",
        _DOC_SEEN_STATE,
        (0,),
        _doc_first_arrival(_positional_postings),
        TEXT_POSTING_OUTPUT,
        state_ttl_ms,
    )


def streaming_postings_delete(
    stream: DataFrame,
    id_col: str = "doc_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming TEXT-INDEX deletion — the live twin of
    ``ranking.postings_store_delete``: doc ids arriving on a stream
    emit one ``(doc_id,)`` row each, first-arrival-committed, for the
    store's ``_deletes`` set. The set is distinct-on-read, so
    exactly-once here is a SIZE guarantee (the side table stays
    delta-sized under redelivery), not a correctness requirement —
    the same division of labor as the ivf tombstone/compaction pair."""
    src = stream.select(F.col(id_col).cast("long").alias("doc_id"))
    return fold_by_key(
        src,
        "doc_id",
        _DOC_SEEN_STATE,
        (0,),
        _doc_first_arrival(lambda doc_id, _rec: [(doc_id,)]),
        TEXT_DELETE_OUTPUT,
        state_ttl_ms,
    )


RATE_ANOMALY_OUTPUT = StructType(
    [
        StructField("k", StringType()),
        StructField("bucket", LongType()),
        StructField("cnt", LongType()),
        StructField("ewma_prev", DoubleType()),
        StructField("score", DoubleType()),
        StructField("is_anomaly", BooleanType()),
        # 'main' = closed-bucket verdict (batch-parity row);
        # 'late' = events for an already-closed bucket (W11
        # sideOutputLateData pattern: tagged, never silently dropped);
        # 'overflow' = events beyond the max-gap horizon (bounded
        # worker protection — see _rate_anomaly_step)
        StructField("channel", StringType()),
    ]
)

_RATE_STATE = StructType(
    [
        StructField("bucket", LongType()),
        StructField("cnt", LongType()),
        StructField("rn", LongType()),
        StructField("ring", ArrayType(LongType())),
    ]
)


def _rate_anomaly_step(
    taps: int, threshold: float, min_count: int, bucket_ms: int, max_gap: int
) -> Step:
    """Per-key LIVE twin of ``rollups.rate_anomaly``: a bucket's verdict
    is emitted the moment a LATER bucket's first event closes it (the
    monitor fires while the storm is still running, not at batch time).
    Gap buckets between the closed bucket and the next arrival emit
    zero-count verdicts, so the dense-timeline semantics — and the
    dyadic EWMA values, computed with the identical 2^-i exact-double
    kernel — match the batch operator row-for-row.

    State per key: the open (bucket, cnt, rn) triple plus a ring array
    of the last ``taps`` CLOSED bucket counts, most recent first —
    O(taps) longs forever, volume-independent. Parity precondition:
    per-key non-decreasing bucket arrival (the in-order contract every
    batch/streaming twin here replays). Two departures from it are
    SURFACED, never silent (the W11 ``sideOutputLateData`` pattern —
    tagged rows on the same stream, split by ``channel``):

    - ``channel='late'``: events for an already-closed bucket. One row
      per (key, late bucket) per trigger with ``cnt`` = late-event
      count; kernel columns are NULL (the verdict for that bucket
      already shipped and is immutable). Main-channel rows are
      byte-identical whether or not late events arrive.
    - ``channel='overflow'``: an arrival whose gap from the open
      bucket exceeds ``max_gap`` buckets. The batch twin distributes
      its dense zero-fill explode across the cluster, but here ONE
      Python worker would synchronously emit gap/bucket_ms rows in a
      single trigger — a far-future/corrupt timestamp must not stall
      the query or balloon memory. Such events do not advance the
      kernel; they surface on the overflow channel (cnt = event
      count, kernel columns NULL). A deployment with real gaps above
      the horizon raises ``max_gap_buckets`` consciously. The horizon
      also guards the FIRST arrival in reverse: a key whose first-ever
      event carries a corrupt far-future timestamp becomes the open
      bucket blind (no earlier state to check against), but as soon as
      a legitimate event lands more than ``max_gap`` buckets BELOW an
      open bucket that has produced no verdict yet, the anchor is
      recognized as the corrupt one — it is surfaced on the overflow
      channel and the key re-anchors to the legitimate bucket (no
      shipped verdict is rewritten; in-order streams never take the
      branch).

    The key's final open bucket is never emitted (nothing closes it)
    — the batch twin's last row per key."""

    def verdict(key, bucket, cnt, rn, ring):
        ew = 0.0
        for i, c in enumerate(ring[:taps], start=1):
            ew += float(c) * (2.0**-i)
        score = (float(cnt) / ew) if ew > 0 else None
        anom = bool(
            rn > taps
            and cnt >= min_count
            and (ew == 0.0 or float(cnt) >= threshold * ew)
        )
        return (key, bucket, cnt, ew, score, anom, "main")

    def side(key, bucket, cnt, channel):
        # late/overflow rows carry the raw event count only; the EWMA
        # kernel never sees them, so its columns are NULL
        return (key, bucket, cnt, None, None, None, channel)

    def step(state, key, batch):
        cur_b, cur_c, rn, ring = state
        out = []
        counts = Counter(r["bucket"] for r in batch)
        counts.pop(None, None)  # a null event time has no bucket
        for bucket, n in sorted(counts.items()):
            if cur_b is None:
                cur_b, cur_c = bucket, n
                continue
            if bucket == cur_b:
                cur_c += n
                continue
            if bucket < cur_b:  # late into a closed bucket: side-output
                if rn == 0 and (cur_b - bucket) // bucket_ms > max_gap:
                    # the open bucket never closed into a verdict and
                    # sits beyond the gap horizon ABOVE this arrival:
                    # the anchor itself is the corrupt far-future
                    # timestamp (a first-ever event the cur_b-is-None
                    # branch had to accept blind — there is no earlier
                    # state to check against). Without this, every
                    # legitimate event would route to 'late' forever
                    # with no main-channel verdicts. Re-anchor to the
                    # arriving bucket and surface the corrupt one on
                    # the overflow channel; rn == 0 guarantees no
                    # shipped verdict is rewritten, and an in-order
                    # stream never takes this branch (batch parity
                    # untouched).
                    out.append(side(key, cur_b, cur_c, "overflow"))
                    cur_b, cur_c = bucket, n
                    continue
                out.append(side(key, bucket, n, "late"))
                continue
            if (bucket - cur_b) // bucket_ms > max_gap:
                # beyond the gap horizon: bounded-output protection —
                # surface instead of emitting gap/bucket_ms zero rows
                out.append(side(key, bucket, n, "overflow"))
                continue
            # close cur, then emit the zero-count gap buckets
            b = cur_b
            while b < bucket:
                cnt_b = cur_c if b == cur_b else 0
                rn += 1
                out.append(verdict(key, b, cnt_b, rn, ring))
                ring = [cnt_b] + ring[: taps - 1]
                b += bucket_ms
            cur_b, cur_c = bucket, n
        return (cur_b, cur_c, rn, ring), out

    return step


def streaming_rate_anomaly(
    stream: DataFrame,
    key_col: str,
    time_col: str,
    bucket_ms: int = 3_600_000,
    taps: int = 16,
    threshold: float = 4.0,
    min_count: int = 8,
    max_gap_buckets: int = 10_000,
) -> DataFrame:
    """Streaming EWMA rate-spike monitor — the live twin of
    ``rollups.rate_anomaly`` (see ``_rate_anomaly_step``): per-key
    bucket verdicts emitted as soon as the bucket closes, exact-dyadic
    EWMA parity with the batch operator row-for-row under in-order
    arrival (test-pinned across micro-batch splits). O(taps) state per
    key forever.

    The output carries a ``channel`` column: ``'main'`` verdicts are
    the batch-parity rows; ``'late'`` rows surface events for
    already-closed buckets and ``'overflow'`` rows surface arrivals
    beyond the ``max_gap_buckets`` dense-fill horizon — split with
    ``out.where("channel = 'main'")`` / ``.where("channel != 'main'")``
    exactly like the window family's sideOutputLateData."""
    from flink_helloworld_spark.functions import epoch_millis

    tsm = epoch_millis(time_col)
    src = stream.select(
        F.col(key_col).cast("string").alias("k"),
        (tsm - F.pmod(tsm, F.lit(bucket_ms))).cast("long").alias("bucket"),
    )
    step = _rate_anomaly_step(
        int(taps),
        float(threshold),
        int(min_count),
        int(bucket_ms),
        int(max_gap_buckets),
    )
    return fold_by_key(
        src, "k", _RATE_STATE, (None, 0, 0, []), step, RATE_ANOMALY_OUTPUT
    )
