"""Capstone: the 5-stream BdWaybillOrder denormalization
(reference StateTest.java:639-872 — the hardest pipeline in the repo).

Reference dataflow: C/E/M sources → map-project into the common
WaybillCEM schema (:648-681) → union (:683) → keyBy(waybill_code) +
rolling last-non-null reduce-merge (:683-698) → connect-join RouteLink
1→5 fan-out (:700-762) → parallel branch WaybillOrder⋈Order on orderId
(:764-797) → final connect-join on waybill_code emitting the
BdWaybillOrder wide row (:799-869).

Batch expression (final-state parity): the same four key boundaries, as
union + merge + three joins. The merged CEM side is small relative to
the 5× route-link fan-out, so it broadcasts; the only shuffle of the
fan-out stream is the final assembly join. Streaming expression: the
same stages over ``streaming.tws.chain_stateful_join``, one stateful
operator per key boundary (``tws.capstone_single_query``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_helloworld_spark.operators.relational import last_non_null_merge, union_streams
from flink_helloworld_spark.sources import generators as G

CEM_COLS = [
    "waybill_sign",
    "site_code",
    "site_name",
    "busi_no",
    "busi_name",
    "send_pay",
    "pickup_date",
    "delivery_date",
]


def cem_merge(c: DataFrame, e: DataFrame, m: DataFrame) -> DataFrame:
    """C/E/M → common CEM schema → union → per-key last-non-null merge
    (reference StateTest.java:648-698). Arrival order: C rows first,
    then E, then M (side-tagged sequence), matching the reference's
    reduce over interleaved arrivals."""
    c_p = c.select(
        "waybill_code",
        (F.col("seq") * 10 + 1).alias("_arrival"),
        "waybill_sign",
        "site_code",
        "site_name",
    )
    e_p = e.select(
        "waybill_code",
        (F.col("seq") * 10 + 2).alias("_arrival"),
        "busi_no",
        "busi_name",
        "send_pay",
    )
    m_p = m.select(
        "waybill_code",
        (F.col("seq") * 10 + 3).alias("_arrival"),
        "pickup_date",
        "delivery_date",
    )
    unioned = union_streams(c_p, e_p, m_p)
    return last_non_null_merge(unioned, "waybill_code", "_arrival", CEM_COLS)


def bd_waybill_order(
    spark: SparkSession, n: int = 500
) -> DataFrame:
    """The full capstone: returns the BdWaybillOrder wide rows — one per
    (waybill, package) with all C/E/M/order fields attached (schema =
    reference domain/BdWaybillOrder.java:11-25 / ES mapping
    HelloWorldFlink.java:58).

    Plan shape: merged CEM and the order branch are broadcast; the
    route-link fan-out (the big stream at scale) is joined without a
    shuffle on itself."""
    cem = cem_merge(
        G.waybill_c(spark, n), G.waybill_e(spark, n), G.waybill_m(spark, n)
    )
    route = G.waybill_route_link(spark, n)
    order_branch = (
        G.waybill_order(spark, n)
        .join(
            G.orders_stream(spark, n),
            F.col("order_id") == F.col("order_code"),
        )
        .select(
            "waybill_code",
            "order_code",
            F.col("create_time").alias("order_create_date"),
        )
    )
    return (
        route.join(F.broadcast(cem), "waybill_code")
        .join(F.broadcast(order_branch), "waybill_code")
        .select(
            "waybill_code",
            "waybill_sign",
            "site_code",
            "site_name",
            "busi_no",
            "busi_name",
            "send_pay",
            "order_code",
            "package_code",
            "pickup_date",
            "delivery_date",
            "order_create_date",
            (F.lit(G.GEN_EPOCH_MS) + F.col("seq") * 1000).alias("ts"),
        )
    )


def product_revenue(spark: SparkSession, n: int = 500) -> DataFrame:
    """Two-stream revenue join with exact decimal money math (reference
    StateTest.java:584-621: AggregatingState multiplying income × sale in
    BigDecimal). Batch final state: per-product revenue sum where each
    income row is priced by the product's latest sale rate."""
    income = G.product_income(spark, n)
    # latest sale per product (the slow dimension stream's last value)
    sale = last_non_null_merge(G.product_sale(spark, n), "product_name", "seq", ["sale"])
    revenue = (
        F.col("income").cast("decimal(12,2)")
        * F.col("sale").cast("decimal(12,4)")
    )
    return (
        income.join(F.broadcast(sale), "product_name")
        .groupBy("product_name")
        .agg(
            F.sum("income").alias("total_income"),
            F.sum(revenue).cast("double").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
