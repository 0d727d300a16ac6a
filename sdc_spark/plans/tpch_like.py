"""Additional TPC-H-shaped multi-join analytical queries — the workload
class the engine is optimized for (join ordering, broadcast selection,
partial aggregation all exercised in one plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


@query("q3_shipping_priority")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with selective filters on both sides,
    revenue aggregation, top-10 by revenue. customer is broadcast; the
    orders↔lineitem join is the only shuffle pair."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    ord_ = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(ord_, li.l_orderkey == ord_.o_orderkey)
        .join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


oracle(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY 1, 2
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)


@query("q5_nation_revenue")
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way snowflake join (fact → orders → customer →
    nation → region + supplier nation-match), revenue per nation. All four
    dimension sides broadcast; lineitem never shuffles for the joins."""
    li = _t(spark, sf_dir, "lineitem")
    ord_ = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        li.join(ord_, li.l_orderkey == ord_.o_orderkey)
        .join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


oracle(
    "q5_nation_revenue",
    """
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE c_nationkey = s_nationkey
    GROUP BY r_name, n_name
    """,
)


@query("q18_large_orders")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-subquery semi-join (orders whose total
    quantity exceeds a threshold) then re-join for detail — exercises
    join-on-aggregate and the 'large volume customer' pattern."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > 250.0)
    )
    ord_ = _t(spark, sf_dir, "orders")
    return (
        ord_.join(big, ord_.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "total_qty",
        )
    )


oracle(
    "q18_large_orders",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice, total_qty
    FROM orders
    JOIN (
        SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250.0
    ) b ON o_orderkey = l_orderkey
    """,
)
