"""Hypertable-style continuous rollups and a portable distinct sketch.

- ``hypertable_rollup``: the TimescaleDB continuous-aggregate shape —
  one pass producing time-bucketed aggregates at several granularities
  (hour/day/...), each row tagged with its granularity. At scale this is
  the materialized layer a dashboard reads instead of raw events; here
  it is one declarative union whose branches share the scan.

- ``kmv_distinct``: a K-Minimum-Values distinct-count sketch on the
  engine's portable md5 hash. Unlike HLL (engine-private layouts), KMV
  is exactly reproducible in any engine: keep the k smallest 60-bit
  hashes per group; the estimator is (k-1) / (kth_min / 2^60). Mergeable
  (union the value sets, keep k smallest), bounded memory O(k) per key —
  a real sketch, oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_helloworld_spark.functions import dsum, epoch_millis, md5_prefix_long

HASH_SPACE = float(1 << 60)  # 15 hex chars of md5


def hypertable_rollup(
    df: DataFrame,
    time_col: str,
    keys: list[str],
    value: str,
    granularities: tuple[str, ...] = ("1 hour", "1 day"),
) -> DataFrame:
    """Multi-granularity time-bucket rollup: one output row per
    (granularity, bucket, keys) with count + exact sum."""
    parts = []
    for g in granularities:
        parts.append(
            df.groupBy(F.window(time_col, g).alias("w"), *keys)
            .agg(F.count(F.lit(1)).alias("cnt"), dsum(value, "sum_value"))
            .select(
                F.lit(g).alias("granularity"),
                F.col("w.start").alias("bucket_start"),
                *keys,
                "cnt",
                "sum_value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _kmv_sketch(df: DataFrame, group: str, value: str, k: int) -> DataFrame:
    """THE sketch definition — (group, h) rows holding each group's k
    smallest distinct 60-bit md5 hashes. Single source of truth shared
    by ``kmv_distinct`` and ``kmv_set_ops`` (and mirrored upstream of
    the streaming twin), so null handling and the hash column can never
    drift between the sketch consumers."""
    # nulls carry no distinct value (COUNT DISTINCT semantics); a NULL
    # hash would also sort below every real hash and poison rank 1
    hashed = (
        df.where(F.col(value).isNotNull())
        .select(
            F.col(group), md5_prefix_long(F.col(value).cast("string")).alias("h")
        )
        .distinct()
    )
    w = Window.partitionBy(group).orderBy("h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(group, "h")
    )


def kmv_distinct(
    df: DataFrame, group: str, value: str, k: int = 64
) -> DataFrame:
    """KMV sketch per group: (group, kth_min hash, n_kept, estimate).

    The k smallest *distinct* hashes per group are the sketch; with
    fewer than k distinct values the estimate is exact (the kept count).
    Estimator: (k-1) / (kth_min / 2^60).
    """
    kept = _kmv_sketch(df, group, value, k)
    return (
        kept.groupBy(group)
        .agg(F.max("h").alias("kth_min"), F.count(F.lit(1)).alias("n_kept"))
        .select(
            group,
            "kth_min",
            "n_kept",
            F.when(
                F.col("n_kept") < k, F.col("n_kept").cast("double")
            ).otherwise(
                F.lit(float(k - 1)) / (F.col("kth_min").cast("double") / F.lit(HASH_SPACE))
            ).alias("distinct_estimate"),
        )
    )


# --- portable HyperLogLog -----------------------------------------------

HLL_M = 64  # registers (2^6); alpha_64 from the HLL paper
HLL_ALPHA = 0.709
# estimator numerator alpha * m^2 * 2^49, precomputed so BOTH engines
# divide ONE literal double by the exact integer register sum
HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(1 << 49)


def hll_distinct(df: DataFrame, group: str, value: str) -> DataFrame:
    """HyperLogLog distinct-count sketch per group, engine-portable.

    Native HLL implementations (Spark ``approx_count_distinct``, DuckDB
    ``approx_count_distinct``) use private hash/register layouts, so their
    estimates can never cross-check. This one is reproducible anywhere:

    - bucket  = first 8 md5 bits mod 64, w = next 48 bits
    - rho     = 49 - bit_length(w)  (leading-zero rank; ``bin()`` drops
      leading zeros identically in Spark and DuckDB, so bit_length is
      ``length(bin(w))`` — no float log2, whose last-ulp differences
      between JVM and libm would flip floor() at powers of two)
    - register M_j = max rho per bucket; the register SUM of the HLL
      estimator (sum 2^-M_j) is carried as the exact integer
      sum(2^(49 - M_j)) — float summation order cannot leak in
    - estimate = alpha*m^2*2^49 / S, with the paper's linear-counting
      fallback m*ln(m/V) when E <= 2.5m and V (empty registers) > 0

    Mergeable: registers from disjoint partitions combine with max().
    One hash-aggregate per level (value-dedup is implicit in max), all
    column expressions — the 100 TB shape for COUNT(DISTINCT) dashboards.
    """
    h = F.md5(F.col(value).cast("string"))
    bucket = (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % HLL_M).alias(
        "bucket"
    )
    w = F.conv(F.substring(h, 3, 12), 16, 10).cast("long")
    rho = F.when(w > 0, F.lit(49) - F.length(F.bin(w))).otherwise(F.lit(49))
    regs = (
        # NULLs are not values: md5(NULL) would otherwise form a phantom
        # NULL-bucket register counted as populated (same rule, with the
        # same rationale comment, as kmv_distinct)
        df.where(F.col(value).isNotNull())
        .select(F.col(group), bucket, rho.cast("int").alias("rho"))
        .groupBy(group, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    per_group = regs.groupBy(group).agg(
        F.sum(F.expr("shiftleft(1L, 49 - m_j)")).alias("s"),
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("int").alias("n_zero"),
    )
    # absent buckets are empty registers (M_j = 0): each contributes
    # 2^-0 = 1, i.e. 2^49 at this scale — add them back before estimating
    s_total = F.col("s") + F.col("n_zero").cast("long") * F.lit(1 << 49).cast("long")
    e_raw = F.lit(HLL_NUMER) / s_total.cast("double")
    lc = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / F.col("n_zero").cast("double")
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero") > 0), lc
    ).otherwise(e_raw)
    return per_group.select(
        group, "n_zero", F.round(est, 6).alias("distinct_estimate")
    )


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style profile — per column: row/null counts, exact
    min/max (as double), and the portable-HLL distinct estimate — in
    ONE scan of the melted table.

    The fusion trick: HLL is already a two-level aggregation (per-bucket
    register max, then per-group register sum), and the first level's
    ``(col_name, bucket)`` grain is strictly finer than the basic stats'
    ``col_name`` grain — so count/null/min/max ride along in level 1 and
    re-combine in level 2 (sum/sum/min/max are all re-aggregable).
    Versus running the two branches separately this halves the melt
    passes and md5 work; numerically it is IDENTICAL to
    ``hll_distinct`` + a basic-stats aggregate (same expressions, same
    integer register sum, same estimator literals).

    Level-1 output is ``len(cols) * (HLL_M + 1)`` rows, so level 2 is
    free at any scale; the only real shuffle is level 1's, keyed finer
    than the group key (skew-resistant for wildly non-uniform columns).
    """
    long = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("sv"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.col_name", "s.sv", "s.v")
    # staged projections so every expensive expression is computed ONCE
    # per row: inline, CollapseProject would re-inline md5 into both the
    # bucket and w branches and conv into both rho references (measured
    # 5.5s -> 3.7s warm at sf0.1). One 14-hex conv carries bucket AND w:
    # top 8 bits (first 2 hex digits) = bucket source, low 48 = w —
    # bit-identical to the two-substring form hll_distinct documents.
    staged = (
        long.select("col_name", F.md5(F.col("sv")).alias("h"), "v")
        .select(
            "col_name",
            F.conv(F.substring(F.col("h"), 1, 14), 16, 10)
            .cast("long")
            .alias("x"),
            "v",
        )
        .select(
            "col_name",
            (F.shiftright(F.col("x"), 48) % HLL_M).alias("bucket"),
            F.col("x").bitwiseAND(F.lit((1 << 48) - 1)).alias("w"),
            "v",
        )
    )
    rho = F.when(
        F.col("w") > 0, F.lit(49) - F.length(F.bin(F.col("w")))
    ).otherwise(F.lit(49))
    lvl1 = (
        staged.select(
            "col_name", "bucket", rho.cast("int").alias("rho"), F.col("v")
        )
        .groupBy("col_name", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("nn"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.max("rho").alias("m_j"),
        )
    )
    # NULL values ride level 1 for the row/null/min/max stats but must
    # NOT form an HLL register: md5(NULL) lands them in a NULL bucket,
    # which the register aggregates below exclude (an all-NULL column
    # then takes the linear-counting branch to a clean 0 estimate)
    lvl2 = lvl1.groupBy("col_name").agg(
        F.sum("n").alias("n_rows"),
        F.sum("nn").alias("n_null"),
        F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("bucket").isNotNull(),
                    F.expr("shiftleft(1L, 49 - m_j)"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("s"),
        (
            F.lit(HLL_M)
            - F.count(F.when(F.col("bucket").isNotNull(), F.lit(1)))
        ).cast("int").alias("n_zero"),
    )
    s_total = F.col("s") + F.col("n_zero").cast("long") * F.lit(1 << 49).cast("long")
    e_raw = F.lit(HLL_NUMER) / s_total.cast("double")
    lc = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / F.col("n_zero").cast("double")
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero") > 0), lc
    ).otherwise(e_raw)
    return lvl2.select(
        "col_name",
        "n_rows",
        "n_null",
        "min_v",
        "max_v",
        F.round(est, 6).alias("distinct_estimate"),
    )


# --- Count-Min sketch ---------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 256  # counters per row


def _cms_col(value: Column, seed: int) -> Column:
    h = F.md5(F.concat(F.lit(f"{seed}:"), value.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMS_W


def cms_sketch(df: DataFrame, value: str) -> DataFrame:
    """Count-Min sketch of a column: (row_id, col_id, cnt) counters.

    d=4 md5-seeded hash rows x w=256 counters — fixed O(d*w) state per
    sketch however large the input, mergeable by adding counters. Built
    in ONE scan: each row explodes to its d (row, col) cells, then one
    hash-aggregate (map-side combinable)."""
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row_id"),
                        _cms_col(F.col(value), d).alias("col_id"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.row_id", "c.col_id")
    return cells.groupBy("row_id", "col_id").agg(F.count(F.lit(1)).alias("cnt"))


def cms_point_estimates(df: DataFrame, value: str, probes: DataFrame) -> DataFrame:
    """Estimate each probe key's frequency from the sketch: min over the
    d counters the key hashes to. Guarantees est >= true count (never
    undercounts); collisions only inflate. ``probes`` must carry the key
    in a column named like ``value`` (extra columns pass through)."""
    sketch = cms_sketch(df, value)
    cells = probes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row_id"),
                        _cms_col(F.col(value), d).alias("col_id"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("c"),
    ).select(*probes.columns, "c.row_id", "c.col_id")
    keep = [c for c in probes.columns]
    # LEFT join: a probe cell absent from the sparse sketch is a ZERO
    # counter and must participate in the min — an inner join would
    # inflate the estimate (min over populated cells only) and silently
    # drop probes whose d cells are all empty (same contract note as
    # bloom_might_contain)
    return (
        cells.join(F.broadcast(sketch), ["row_id", "col_id"], "left")
        .groupBy(*keep)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def time_bucket_gapfill(
    df: DataFrame,
    key: str,
    time_col: str,
    value: str,
    bucket_ms: int,
    locf: bool = True,
) -> DataFrame:
    """TimescaleDB ``time_bucket_gapfill`` + ``locf``: per key, emit EVERY
    bucket between that key's first and last observation; buckets with no
    rows get cnt=0 and (with ``locf``) the last observed sum carried
    forward. Output: (key, bucket_ms epoch, cnt, sum_value, filled).

    Scale shape: aggregate first (events collapse to one row per
    key×bucket before anything is generated), then per-key
    ``sequence()``-explode the bucket range and left-join the aggregates
    on the same key partitioning — the dense timeline is produced
    post-reduction, never against raw events. Row count is bounded by
    key_count × (time_span / bucket), independent of input size.
    """
    tsm = epoch_millis(time_col)
    bucket = (tsm - F.pmod(tsm, F.lit(bucket_ms))).alias("bucket")
    agg = df.groupBy(F.col(key), bucket).agg(
        F.count(F.lit(1)).alias("cnt"), dsum(value, "sum_value")
    )
    spans = agg.groupBy(key).agg(
        F.min("bucket").alias("b_min"), F.max("bucket").alias("b_max")
    )
    dense = spans.select(
        key,
        F.explode(
            F.sequence("b_min", "b_max", F.lit(bucket_ms).cast("long"))
        ).alias("bucket"),
    )
    joined = dense.join(agg, [key, "bucket"], "left")
    filled_sum: Column
    if locf:
        w = (
            Window.partitionBy(key)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled_sum = F.last("sum_value", ignorenulls=True).over(w)
    else:
        filled_sum = F.col("sum_value")
    return joined.select(
        key,
        "bucket",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        filled_sum.alias("sum_value"),
        F.col("cnt").isNull().alias("filled"),
    )


def histogram_quantiles(
    df: DataFrame,
    group: str,
    value: str,
    bin_width: float,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Approximate per-group quantiles from a fixed-width histogram —
    the mergeable scale path next to the exact ``percentile`` operator.

    One scan builds (group, bin) counts (map-side combinable, state =
    distinct bins, not rows); a cumulative window over the tiny bin
    table picks the first bin whose cumulative count reaches q·N and
    reports its lower edge. The estimate is within ``bin_width`` of the
    ⌈q·N⌉-th order statistic (the DISCRETE percentile — that value lands
    in the reported bin by construction); interpolated percentiles can
    differ by more when a quantile falls in a gap between populated
    bins. Histograms merge by adding bin counts, so per-day sketches
    roll up to months for free. Integer bin arithmetic keeps it
    engine-portable (no float summation order anywhere).
    """
    bin_col = F.floor(F.col(value) / F.lit(bin_width)).cast("long")
    bins = df.groupBy(F.col(group), bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("bin_cnt")
    )
    w_cum = (
        Window.partitionBy(group)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group)
    cum = bins.select(
        group,
        "bin",
        F.sum("bin_cnt").over(w_cum).alias("cum_cnt"),
        F.sum("bin_cnt").over(w_all).alias("total"),
    )
    from fractions import Fraction

    parts = []
    for q in quantiles:
        # exact rational threshold cum·den >= total·num — integer-only,
        # so sub-percent quantiles (p99.9) are honored instead of being
        # silently snapped to the nearest whole percent; labels keep the
        # p50/p95 form for whole percents and read p99_9 otherwise
        frac = Fraction(str(q))
        pct = q * 100
        qname = (
            f"p{int(round(pct)):02d}"
            if abs(pct - round(pct)) < 1e-9
            else "p" + f"{pct:g}".replace(".", "_")
        )
        hit = (
            cum.where(
                F.col("cum_cnt") * F.lit(frac.denominator)
                >= F.col("total") * F.lit(frac.numerator)
            )
            .groupBy(group)
            .agg(F.min("bin").alias("bin"))
            .select(
                group,
                F.lit(qname).alias("quantile"),
                (F.col("bin") * F.lit(bin_width)).alias("value_est"),
            )
        )
        parts.append(hit)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out



BLOOM_LANES = 16  # 16 lanes x 63 usable bits = 1008-bit filter
BLOOM_LANE_BITS = 63  # bit 63 is the BIGINT sign bit: DuckDB rejects 1<<63


def bloom_filter_build(
    df: DataFrame, group: str, value: str, k_hashes: int = 3
) -> DataFrame:
    """Portable Bloom filter per group: a 1008-bit array as 16 BIGINT
    lanes, each value setting ``k_hashes`` md5-derived bits, lanes
    combined with bit_or (associative — map-side combinable, mergeable
    across partitions/days like the other sketches).

    This is the join-pruning sketch: ship a group's filter to the probe
    side and drop non-members before the shuffle. Unlike Spark's own
    runtime bloom filters (engine-private layout), these lanes are plain
    integers any engine reproduces bit-for-bit. Built entirely in SQL
    expression form because shiftleft's shift must be computed per row
    (F.shiftleft takes only literals)."""
    m = BLOOM_LANES * BLOOM_LANE_BITS
    # stage the k bit positions as real columns FIRST: inlined, each
    # md5+conv position expression would be duplicated into every lane's
    # DIV test and shift (16 lanes x 2 refs x k hashes md5 calls per row)
    pos_staged = df.select(
        F.col(group),
        *[
            F.expr(
                f"pmod(CAST(conv(substring(md5(concat('b{i}:',"
                f" CAST({value} AS STRING))), 1, 15), 16, 10) AS BIGINT), {m})"
            ).alias(f"_p{i}")
            for i in range(k_hashes)
        ],
    )
    lane_cols = []
    for lane in range(BLOOM_LANES):
        contribs = [
            f"IF(_p{i} DIV {BLOOM_LANE_BITS} = {lane},"
            f" shiftleft(1L, CAST(pmod(_p{i}, {BLOOM_LANE_BITS}) AS INT)), 0L)"
            for i in range(k_hashes)
        ]
        lane_cols.append(F.expr(" | ".join(contribs)).alias(f"_l{lane}"))
    per_row = pos_staged.select(F.col(group), *lane_cols)
    return per_row.groupBy(group).agg(
        *[
            F.expr(f"bit_or(_l{lane})").alias(f"lane_{lane}")
            for lane in range(BLOOM_LANES)
        ]
    )


def bloom_might_contain(
    filters: DataFrame, probes: DataFrame, group: str, value: str, k_hashes: int = 3
) -> DataFrame:
    """Probe a built filter table: (group, value, might_contain). False
    means DEFINITELY absent (the pruning guarantee); true may be a
    false positive at the documented ~(1-e^(-kn/m))^k rate. A probe
    whose group has no built filter is definitely absent → false (left
    join, not inner — an inner join would silently drop the row)."""
    m = BLOOM_LANES * BLOOM_LANE_BITS
    pos_exprs = [
        f"pmod(CAST(conv(substring(md5(concat('b{i}:', CAST({value} AS STRING))),"
        f" 1, 15), 16, 10) AS BIGINT), {m})"
        for i in range(k_hashes)
    ]
    checks = []
    for p in pos_exprs:
        lane_val = " ".join(
            f"WHEN {p} DIV {BLOOM_LANE_BITS} = {lane} THEN lane_{lane}"
            for lane in range(BLOOM_LANES)
        )
        checks.append(
            f"((CASE {lane_val} END) & shiftleft(1L,"
            f" CAST(pmod({p}, {BLOOM_LANE_BITS}) AS INT))) != 0L"
        )
    return probes.join(F.broadcast(filters), group, "left").select(
        group,
        value,
        F.coalesce(F.expr(" AND ".join(checks)), F.lit(False)).alias(
            "might_contain"
        ),
    )


def kmv_set_ops(
    a: DataFrame,
    b: DataFrame,
    group: str,
    value: str,
    k: int = 16,
) -> DataFrame:
    """KMV sketch set algebra (Beyer et al., SIGMOD'07) — union size,
    Jaccard, and intersection size of two snapshots' value sets from
    their k-minimum-value sketches alone: the cross-crawl overlap
    report ("how much of snapshot B is already in A?") computed from
    two O(k) summaries instead of a corpus-sized anti-join.

    Combine rule: L = the k smallest distinct hashes of K_A ∪ K_B;
    ρ = |{h ∈ L : h ∈ K_A ∧ h ∈ K_B}|. Then Jaccard ≈ ρ/k,
    |A ∪ B| ≈ (k-1)/(kth_min(L)/2^60), |A ∩ B| ≈ Jaccard·|A ∪ B| —
    and when |L| < k nothing was evicted anywhere, so all three are
    EXACT. Hashes are md5-derived (the engine's portable-hash
    contract), so the whole computation — estimator included — is
    deterministic and oracle-exact.

    Scale shape: each side is one distinct + per-group top-k (the same
    shape as ``kmv_distinct``); the combine works on ≤ 2k rows per
    group. At 100 TB the sketches are the only thing that crosses
    snapshots — the corpora themselves never join.
    """
    ka = _kmv_sketch(a, group, value, k)
    kb = _kmv_sketch(b, group, value, k)
    both = ka.select(group, "h").unionByName(kb.select(group, "h")).distinct()
    w = Window.partitionBy(group).orderBy("h")
    ell = both.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    marked = (
        ell.select(group, "h")
        .join(ka.withColumn("_in_a", F.lit(1)), [group, "h"], "left")
        .join(kb.withColumn("_in_b", F.lit(1)), [group, "h"], "left")
    )
    agg = marked.groupBy(group).agg(
        F.max("h").alias("kth_min"),
        F.count(F.lit(1)).alias("n_l"),
        F.sum(
            F.when(
                F.col("_in_a").isNotNull() & F.col("_in_b").isNotNull(), 1
            ).otherwise(0)
        ).alias("rho"),
    )
    saturated = F.col("n_l") >= F.lit(int(k))
    union_est = F.when(
        ~saturated, F.col("n_l").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) / (F.col("kth_min").cast("double") / F.lit(HASH_SPACE))
    )
    jaccard = F.col("rho").cast("double") / F.when(
        ~saturated, F.col("n_l").cast("double")
    ).otherwise(F.lit(float(k)))
    inter_est = F.when(~saturated, F.col("rho").cast("double")).otherwise(
        jaccard * union_est
    )
    return agg.select(
        group,
        "kth_min",
        "n_l",
        "rho",
        union_est.alias("union_est"),
        jaccard.alias("jaccard_est"),
        inter_est.alias("intersect_est"),
    )


def rate_anomaly(
    df: DataFrame,
    key: str,
    time_col: str,
    bucket_ms: int = 3_600_000,
    taps: int = 16,
    threshold: float = 4.0,
    min_count: int = 8,
) -> DataFrame:
    """EWMA rate-spike detector over per-key event-rate timelines — the
    ingest-ops monitor that flags a key whose CURRENT bucket count
    jumps ≥ ``threshold``× its exponentially-weighted recent baseline
    (crawler loops, log storms, upstream replays: the rate anomalies a
    100 TB pipeline wants caught before they skew mixtures/dedup).

    Baseline: the dyadic EWMA kernel — weight of lag i is 2^-i,
    truncated at ``taps`` (so weights are EXACT doubles and every
    term count·2^-i and their sum are exact dyadic rationals:
    bit-identical across engines with no rounding ladder; pow-free,
    summation-order-free). Gaps count as zero activity — the dense
    per-key timeline is generated post-aggregation exactly like
    ``time_bucket_gapfill`` (row count bounded by keys × span/bucket,
    never by input size). The first ``taps`` buckets of a key are
    kernel warmup (missing lags read as 0, inflating the ratio), so
    ``is_anomaly`` is gated on a full kernel; ``min_count`` suppresses
    tiny-count flag noise and makes a burst onto a silent baseline
    (ewma=0) flaggable without a division.

    Output: (key, bucket, cnt, ewma_prev, score = cnt/ewma_prev — raw
    IEEE division, deterministic, NULL on zero baseline — is_anomaly).

    Scale shape: one count aggregate keyed (key, bucket), one span agg,
    the bounded dense explode, ONE window pass computing all ``taps``
    lags + row_number under the same (key, bucket) spec. Nothing
    Python, nothing quadratic; threshold math is exact (dyadic ×
    integer), so the flag can't flap across engines or partitionings.
    """
    tsm = epoch_millis(time_col)
    bucket = (tsm - F.pmod(tsm, F.lit(bucket_ms))).alias("bucket")
    agg = df.groupBy(F.col(key), bucket).agg(F.count(F.lit(1)).alias("cnt"))
    spans = agg.groupBy(key).agg(
        F.min("bucket").alias("b_min"), F.max("bucket").alias("b_max")
    )
    dense = spans.select(
        key,
        F.explode(
            F.sequence("b_min", "b_max", F.lit(bucket_ms).cast("long"))
        ).alias("bucket"),
    )
    t = dense.join(agg, [key, "bucket"], "left").select(
        key, "bucket", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt")
    )
    w = Window.partitionBy(key).orderBy("bucket")
    ew: Column | None = None
    for i in range(1, taps + 1):
        term = F.coalesce(F.lag("cnt", i).over(w), F.lit(0)).cast(
            "double"
        ) * F.lit(2.0**-i)
        ew = term if ew is None else ew + term
    scored = t.select(
        key,
        "bucket",
        "cnt",
        ew.alias("ewma_prev"),
        F.row_number().over(w).alias("_rn"),
    )
    score = F.when(
        F.col("ewma_prev") > 0, F.col("cnt") / F.col("ewma_prev")
    )
    warm = F.col("_rn") > taps
    anom = (
        warm
        & (F.col("cnt") >= F.lit(int(min_count)))
        & (
            (F.col("ewma_prev") == 0.0)
            | (
                F.col("cnt").cast("double")
                >= F.lit(float(threshold)) * F.col("ewma_prev")
            )
        )
    )
    return scored.select(
        key,
        "bucket",
        "cnt",
        "ewma_prev",
        score.alias("score"),
        anom.alias("is_anomaly"),
    )


def cms_join_size(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    audit: bool = True,
) -> DataFrame:
    """Join-SIZE estimation by Count-Min inner product (Cormode &
    Muthukrishnan 2005 §4.2): |L ⋈ R on k| = Σ_k n_L(k)·n_R(k), and the
    min over hash rows of the sketches' per-row inner products
    estimates it — never under the truth, over by at most
    (e/w)·|L|·|R| with the usual CMS probability. The planner number a
    100 TB pipeline wants BEFORE running a possibly-quadratic join
    (the co-purchase self-join is the house example): two O(d·w)
    sketches instead of the join.

    One scan per side (the mergeable ``cms_sketch``), then the inner
    product joins two ≤ d·w-row counter tables — the estimate costs
    nothing at any input size. With ``audit=True`` the exact size is
    computed beside it from the per-key count tables (key-cardinality-
    sized join — still far cheaper than materializing the join) plus
    the overestimate ratio; an operating deployment passes
    ``audit=False`` and gets the sketch-only row.

    Output: one row — (est_join_size, true_join_size?,
    overestimate_ratio?, d_rows, width). Integer arithmetic
    throughout; the ratio rides the 9-dp floor-form ladder.
    """
    from flink_helloworld_spark.operators.clustering import _r9

    skl = cms_sketch(left.select(F.col(left_key).alias("v")), "v")
    skr = cms_sketch(right.select(F.col(right_key).alias("v")), "v")
    a, b = skl.alias("a"), skr.alias("b")
    prod = (
        a.join(b, ["row_id", "col_id"])
        .groupBy("row_id")
        .agg(
            F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("ip")
        )
    )
    # The sketches are SPARSE counter tables: a hash row whose cells
    # never collide between the two sides produces NO row in `prod`,
    # and its inner product is ZERO — it must still participate in the
    # min (same pitfall as cms_point_estimates' LEFT join above). An
    # inner-join min over populated rows only would return NULL on
    # fully disjoint key sets and a looser estimate on partial
    # overlap. Materialize all CMS_D row_ids and coalesce to 0.
    all_rows = left.sparkSession.range(int(CMS_D)).select(
        F.col("id").cast("int").alias("row_id")
    )
    prod = all_rows.join(prod, "row_id", "left").select(
        "row_id", F.coalesce("ip", F.lit(0)).alias("ip")
    )
    est = prod.agg(F.min("ip").cast("long").alias("est_join_size"))
    if not audit:
        return est.select(
            "est_join_size",
            F.lit(CMS_D).alias("d_rows"),
            F.lit(CMS_W).alias("width"),
        )
    lc = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    rc = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("nr")
    )
    true_sz = lc.join(rc, "k").agg(
        # disjoint key sets → the join is empty and sum() is NULL; the
        # true size is 0 (same zero-participates rule as the estimate)
        F.coalesce(F.sum(F.col("nl") * F.col("nr")), F.lit(0))
        .cast("long")
        .alias("true_join_size")
    )
    return (
        est.crossJoin(F.broadcast(true_sz))
        .select(
            "est_join_size",
            "true_join_size",
            _r9(
                F.col("est_join_size").cast("double")
                / F.nullif(
                    F.col("true_join_size").cast("double"), F.lit(0.0)
                )
            ).alias("overestimate_ratio"),
            F.lit(CMS_D).alias("d_rows"),
            F.lit(CMS_W).alias("width"),
        )
    )
