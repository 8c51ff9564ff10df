"""Data-layout operators: Z-order (Morton) clustering keys.

At 100 TB the dominant cost is scan I/O; sorting a table by a
space-filling curve over its hot filter columns lets min/max file stats
prune multi-dimensional predicates (the Delta/Iceberg ``OPTIMIZE ZORDER
BY`` idea, re-expressed as plain columns so any writer — including
``partitioned_lake_sink`` — can use it).

Everything is integer bit arithmetic (shifts, masks, adds) inside
codegen; the same expressions regenerate in ANSI SQL for the DuckDB
oracle, so layout keys are engine-portable and deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative integer
    columns: result bit 2j is x's bit j, bit 2j+1 is y's bit j. Higher
    key bits alternate the two dimensions, so sorting by the key gives
    both columns locality (each file covers a tight x-range AND y-range).

    The expression is a balanced sum of 2*bits shift/mask terms —
    constant-folded into one codegen stage, no UDF."""
    # bitwiseAND(n-1), not %: Spark's % follows the dividend's sign, so
    # a negative input would leak a negative masked value into the
    # shift walk. For the power-of-two modulus, & keeps the result in
    # [0, 2^bits) for ANY sign (two's complement — identical in Spark,
    # DuckDB, and Python), at one cheap op where pmod's
    # ((a%b)+b)%b form measurably taxed the 2·bits-term codegen stage
    x = x.cast("long").bitwiseAND(F.lit((1 << bits) - 1).cast("long"))
    y = y.cast("long").bitwiseAND(F.lit((1 << bits) - 1).cast("long"))
    terms = []
    for j in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, j) % 2, 2 * j))
        terms.append(F.shiftleft(F.shiftright(y, j) % 2, 2 * j + 1))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def zorder_layout_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    file_bits: int = 8,
) -> DataFrame:
    """Assign each row a Z-order key over (x, y), bucket rows into
    2^``file_bits`` target files by the key's top bits, and report the
    per-file min/max column stats a reader would prune with.

    This is the *planning* half of an OPTIMIZE ZORDER: at scale the
    repartitionByRange(z) + write happens in the sink; here the stats
    table itself demonstrates (and lets tests assert) that every file
    covers a bounded slice of BOTH dimensions — the property plain
    single-column sorting cannot give."""
    z = zorder_key(F.col(x_col), F.col(y_col), bits)
    keyed = df.select(
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
        F.shiftright(z, 2 * bits - file_bits).cast("int").alias("file_id"),
    )
    return keyed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


def shard_tag_columns(
    shards: int, text_col: str = "text", id_col: str = "doc_id"
) -> list[Column]:
    """The ONE definition of the manifest hash recipe, shared by the
    batch operator and its streaming twins (their contract is a
    bit-identical manifest, so the shard key, token rule, and
    fingerprint input must never drift apart): (shard_id, doc_id, tok,
    fp) per document, where shard_id = md5('shard:'||id) mod shards and
    fp = 60-bit md5 of 'id:text'."""
    from flink_helloworld_spark.functions import md5_prefix_long
    from flink_helloworld_spark.operators.text import _words

    sid = (
        md5_prefix_long(
            F.concat(F.lit("shard:"), F.col(id_col).cast("string"))
        )
        % shards
    ).cast("int")
    doc_fp = md5_prefix_long(
        F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(text_col))
    )
    return [
        sid.alias("shard_id"),
        F.col(id_col).alias("doc_id"),
        F.size(_words(F.col(text_col))).cast("long").alias("tok"),
        doc_fp.alias("fp"),
    ]


def training_order(
    docs: DataFrame,
    seed: str = "epoch0",
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch-shuffle: assign every document a
    pseudo-random global training position, reproducible across runs,
    engines, and partitionings — the "global shuffle" a trainer needs
    before each epoch, without ever performing a global sort.

    Order key = md5(seed || ':' || id): changing ``seed`` re-shuffles
    (epoch 2 ≠ epoch 1), same seed replays bit-identically. Each doc
    lands in shard = key mod ``n_shards``; within a shard, position =
    rank by (key, id). The GLOBAL order contract is round-robin over
    shards: global_pos = shard_pos * n_shards + shard_id — readers
    consume shards in rotation and see a uniformly shuffled stream.

    Scale shape: one shuffle keyed on shard_id + a per-shard sort of
    N/n_shards rows (Spark sorts each partition externally, spilling);
    no global ordering is ever materialized, and the shard count is the
    parallelism knob. Compare: ``df.orderBy(rand())`` is neither
    reproducible nor engine-portable and range-partitions globally.

    Output: (doc_id, shard_id, shard_pos, global_pos).
    """
    from pyspark.sql import Window

    from flink_helloworld_spark.functions import md5_prefix_long

    salted = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(salted).alias("_key"),
        (md5_prefix_long(salted) % n_shards).cast("int").alias("shard_id"),
    )
    w = Window.partitionBy("shard_id").orderBy("_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard_id",
        (F.row_number().over(w) - 1).alias("shard_pos"),
    ).withColumn(
        "global_pos",
        F.col("shard_pos").cast("long") * n_shards + F.col("shard_id"),
    )


def shard_manifest(
    docs: DataFrame,
    shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The WRITE-side closing step of a training-data pipeline: assign
    every document a deterministic shard and emit the per-shard manifest
    a downstream trainer consumes — row count, token count, id range and
    an order-independent content fingerprint (so a re-run, a backfill,
    or a second engine can verify shard-for-shard that it produced the
    same data without comparing documents).

    Shard = md5(id) mod ``shards`` — uniform and engine-portable, so the
    layout has no skew and any system can recompute membership from the
    id alone. Fingerprint = BIT_XOR of a 60-bit md5 of (id, text): XOR is
    commutative/associative, so the fingerprint is independent of row
    order and map-side combinable — each executor folds its partition
    locally and the shuffle carries ``shards`` longs, nothing else.

    Scale shape: ONE pass, one hash-aggregate on a uniform key with
    ``shards`` groups; token counting is a codegen split/size, no
    Python. Output: (shard_id, n_docs, total_tokens, min_id, max_id,
    fingerprint).
    """
    return (
        docs.select(*shard_tag_columns(shards, text_col, id_col))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.bit_xor("fp").alias("fingerprint"),
        )
    )


def curriculum_order(
    docs: DataFrame,
    seed: str = "curr0",
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum epoch ordering (Bengio et al. 2009, applied to LLM
    pretraining data): documents stream easy→hard — high-quality stage
    first — with ``training_order``'s reproducible pseudo-random shuffle
    WITHIN each stage. Stage comes from the discrete quality-score bands
    (≥0.8 → 0, ≥0.4 → 1, else 2), so the cut needs no percentile
    machinery and is trivially engine-portable.

    Same scale shape as ``training_order`` (one hash exchange, per-shard
    external sorts, round-robin global contract); the only addition is
    the quality projection, which is pure codegen.

    Output: (doc_id, stage, shard_id, shard_pos, global_pos); consuming
    shards round-robin by global_pos yields stage-0 docs (shuffled)
    first, then stage-1, then stage-2 — stage boundaries blur only by
    the (md5-uniform, so O(√(N/S))) per-shard stage-count imbalance.
    """
    from pyspark.sql import Window

    from flink_helloworld_spark.functions import md5_prefix_long
    from flink_helloworld_spark.operators.text import quality_score

    q = quality_score(docs, text_col).select(
        id_col,
        F.when(F.col("quality_score") >= 0.8, F.lit(0))
        .when(F.col("quality_score") >= 0.4, F.lit(1))
        .otherwise(F.lit(2))
        .alias("stage"),
    )
    salted = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    keyed = q.select(
        F.col(id_col).alias("doc_id"),
        "stage",
        F.md5(salted).alias("_key"),
        (md5_prefix_long(salted) % n_shards).cast("int").alias("shard_id"),
    )
    w = Window.partitionBy("shard_id").orderBy("stage", "_key", "doc_id")
    return keyed.select(
        "doc_id",
        "stage",
        "shard_id",
        (F.row_number().over(w) - 1).alias("shard_pos"),
    ).withColumn(
        "global_pos",
        F.col("shard_pos").cast("long") * n_shards + F.col("shard_id"),
    )


def hilbert_layout_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 12,
    file_bits: int = 8,
) -> DataFrame:
    """Hilbert-curve clustering key over (x, y) + the per-target-file
    min/max stats a reader prunes with — the locality-tighter sibling
    of ``zorder_layout_stats`` (same output contract). The Hilbert
    curve visits grid cells in UNIT steps (consecutive keys are always
    grid-adjacent; Z-order jumps across the plane at quadrant seams),
    so key-ranges map to tighter (x, y) rectangles — the reason
    Iceberg/DataFusion offer Hilbert beside Z-order for OPTIMIZE.

    Implementation: the textbook xy2d walk (Hamilton's conversion, the
    Wikipedia form) with the ``n-1-x`` reflection so every
    intermediate stays in [0, 2^bits) — NO negative values, which
    matters because Spark and DuckDB disagree on %/>> semantics for
    negatives. Each of the ``bits`` levels is ONE staged projection
    (rx/ry bit tests, the quadrant digit 3·rx + ry·(1−2·rx) — the
    XOR-free closed form, DuckDB has no ``^`` — and the
    reflect-then-swap rotation as CASEs); staging keeps the expression
    tree linear in ``bits`` where a single fused Column would blow up
    ~4^bits (each level references the previous x/y three times — the
    same CollapseProject consideration ``profile_table`` documents).
    Pure integer arithmetic end-to-end: engine-portable, hash-exact.

    ``bits=12`` (4096×4096 grid, 24-bit key) is the measured
    whole-stage-codegen sweet spot: at 16 levels the FUSED generated
    method crosses HotSpot's huge-method JIT limit and the stage runs
    3.8× slower (1.95s vs 0.51s per 1M rows warm) — more curve
    resolution than the file_bits pruning granularity can use, paid in
    un-JIT-able code. 24-bit keys leave 2^16 intra-file positions at
    ``file_bits=8``; raise ``bits`` only with a matching bench check.
    """
    n = 1 << bits
    cur = df.select(
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
        # bitwiseAND(n-1) keeps the docstring's [0, 2^bits) contract for
        # negative inputs too (two's complement: engine-portable,
        # Python-reference-identical) — Spark's sign-following % would
        # let a negative hx/hy slip into the reflection walk, and pmod
        # costs a double modulo per reference in codegen
        F.col(x_col).cast("long").bitwiseAND(
            F.lit(n - 1).cast("long")
        ).alias("hx"),
        F.col(y_col).cast("long").bitwiseAND(
            F.lit(n - 1).cast("long")
        ).alias("hy"),
        F.lit(0).cast("long").alias("hd"),
    )
    one, two, three = (F.lit(v).cast("long") for v in (1, 2, 3))
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = F.when(
            F.col("hx").bitwiseAND(F.lit(s).cast("long")) > 0, one
        ).otherwise(F.lit(0).cast("long"))
        ry = F.when(
            F.col("hy").bitwiseAND(F.lit(s).cast("long")) > 0, one
        ).otherwise(F.lit(0).cast("long"))
        digit = three * rx + ry * (one - two * rx)
        refl_x = F.when(
            rx == 1, F.lit(n - 1).cast("long") - F.col("hy")
        ).otherwise(F.col("hy"))
        refl_y = F.when(
            rx == 1, F.lit(n - 1).cast("long") - F.col("hx")
        ).otherwise(F.col("hx"))
        cur = cur.select(
            "x",
            "y",
            F.when(ry == 0, refl_x).otherwise(F.col("hx")).alias("hx"),
            F.when(ry == 0, refl_y).otherwise(F.col("hy")).alias("hy"),
            (F.col("hd") + F.lit(s).cast("long") * F.lit(s).cast("long") * digit).alias("hd"),
        )
    keyed = cur.select(
        "x",
        "y",
        F.shiftright(F.col("hd"), 2 * bits - file_bits).cast("int").alias(
            "file_id"
        ),
    )
    return keyed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
