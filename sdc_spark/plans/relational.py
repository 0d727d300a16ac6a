"""Relational operator coverage: SURVEY.md §2.2 (projection/filter),
§2.4 (aggregations), §2.7 (sorts/top-k), §2.8 (set ops).

Each query demonstrates one operator family with a DuckDB oracle. The Spark
side is pure DataFrame API (Catalyst-optimized, whole-stage codegen); no
Python UDFs appear anywhere in this module.

Reference parity notes cite /root/reference file:line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1 pricing summary. Touches source → filter (pushed to the
# parquet scan) → hash aggregate (partial+final) → sort. The groupBy keys are
# low-cardinality so the shuffle moves only 6 groups × 32 partial rows at any
# scale — this plan is 100 TB-safe by construction.
# --------------------------------------------------------------------------


@query("q1_pricing_summary")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-reduction aggregate set over groups (ref: per-column reductions,
    sdc/datatypes/hpat_pandas_dataframe_functions.py:465-533; groupby
    sdc/datatypes/hpat_pandas_groupby_functions.py:361-481)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


oracle(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                            AS sum_qty,
           round(sum(l_extendedprice), 4)                                       AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                    AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)      AS sum_charge,
           round(avg(l_quantity), 4)                                            AS avg_qty,
           round(avg(l_extendedprice), 4)                                       AS avg_price,
           round(avg(l_discount), 4)                                            AS avg_disc,
           count(*)                                                             AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)


# --------------------------------------------------------------------------
# §2.2 projection / selection / filtering
# --------------------------------------------------------------------------


@query("filter_projection")
def filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df[[cols]] + df[bool mask] (ref: getitem overloads,
    sdc/datatypes/hpat_pandas_dataframe_functions.py:1791-2215). Both the
    filter and the 3-column projection push into the parquet scan."""
    ord_ = _t(spark, sf_dir, "orders")
    return ord_.select("o_orderkey", "o_custkey", "o_totalprice").filter(
        (F.col("o_totalprice") > 150000.0) & (F.col("o_orderkey") % 2 == 0)
    )


oracle(
    "filter_projection",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderkey % 2 = 0
    """,
)


@query("slice_head")
def slice_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.head(n) / positional slice (ref: …dataframe_functions.py:534,617).
    A positional slice needs a total order to be deterministic on a cluster;
    we key it on the table's primary key, which is a range-partitionable
    sort — the deterministic distributed equivalent of pandas row order."""
    cust = _t(spark, sf_dir, "customer")
    return cust.orderBy("c_custkey").limit(10)


oracle("slice_head", "SELECT * FROM customer ORDER BY c_custkey LIMIT 10")


@query("isin_membership")
def isin_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.isin (ref: …series_functions.py:2030) → Column.isin; stays in
    whole-stage codegen as an In predicate, pushable to the scan."""
    part = _t(spark, sf_dir, "part")
    return part.select("p_partkey", "p_brand", "p_size").filter(
        F.col("p_brand").isin("Brand#1", "Brand#3") & F.col("p_size").isin(1, 5, 9, 14)
    )


oracle(
    "isin_membership",
    """
    SELECT p_partkey, p_brand, p_size FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#3') AND p_size IN (1, 5, 9, 14)
    """,
)


# --------------------------------------------------------------------------
# §2.4 full-column reductions
# --------------------------------------------------------------------------


@query("agg_reductions")
def agg_reductions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/min/max/mean/count/nunique as one partial+final aggregate pass
    (ref Series reductions: sdc/datatypes/hpat_pandas_series_functions.py:2539,
    3003, 3101, 3179, 3589, 3513). One shuffle of a single partial row per
    partition — constant network cost at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.min("l_quantity"), 4).alias("min_qty"),
        F.round(F.max("l_quantity"), 4).alias("max_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("l_orderkey").alias("cnt"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


oracle(
    "agg_reductions",
    """
    SELECT round(sum(l_extendedprice), 4) AS sum_price,
           round(min(l_quantity), 4)      AS min_qty,
           round(max(l_quantity), 4)      AS max_qty,
           round(avg(l_discount), 4)      AS avg_disc,
           count(l_orderkey)              AS cnt,
           count(DISTINCT l_partkey)      AS n_parts
    FROM lineitem
    """,
)


@query("agg_stats")
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """std/var (ddof=1), median, exact quantile, sample skew
    (ref: …series_functions.py:1262,1545,3663,2880,4814; skew formula
    sdc/functions/statistics.py:32-40). Spark's F.skewness is the population
    g1; pandas/DuckDB report the bias-adjusted sample skew, so we adjust:
    G1 = g1 * sqrt(n(n-1)) / (n-2)."""
    ord_ = _t(spark, sf_dir, "orders")
    n = F.count("o_totalprice")
    g1 = F.skewness("o_totalprice")
    adj_skew = g1 * F.sqrt(n * (n - 1)) / (n - 2)
    return ord_.agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("std_price"),
        F.round(F.var_samp("o_totalprice"), 4).alias("var_price"),
        F.round(F.median("o_totalprice"), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("q25"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("q90"),
        F.round(adj_skew, 4).alias("skew_price"),
    )


oracle(
    "agg_stats",
    """
    SELECT round(stddev_samp(o_totalprice), 4)        AS std_price,
           round(var_samp(o_totalprice), 4)           AS var_price,
           round(median(o_totalprice), 4)             AS median_price,
           round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
           round(quantile_cont(o_totalprice, 0.9), 4)  AS q90,
           round(skewness(o_totalprice), 4)           AS skew_price
    FROM orders
    """,
)


@query("agg_idx_minmax")
def agg_idx_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idxmax/idxmin (ref: …series_functions.py:2715/3246) → F.max_by/F.min_by:
    the argmax travels with the partial aggregate, no second pass."""
    ord_ = _t(spark, sf_dir, "orders")
    return ord_.agg(
        F.max_by("o_orderkey", "o_totalprice").alias("idx_max_price"),
        F.min_by("o_orderkey", "o_totalprice").alias("idx_min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
    )


oracle(
    "agg_idx_minmax",
    """
    SELECT max_by(o_orderkey, o_totalprice)  AS idx_max_price,
           min_by(o_orderkey, o_totalprice)  AS idx_min_price,
           round(max(o_totalprice), 4)       AS max_price,
           round(min(o_totalprice), 4)       AS min_price
    FROM orders
    """,
)


@query("agg_corr_cov")
def agg_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.corr/cov (ref: …series_functions.py:2255/4154; kernel
    sdc/functions/numpy_like.py:795-874) → single-pass co-moment aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qty_price"),
    )


oracle(
    "agg_corr_cov",
    """
    SELECT round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem
    """,
)


@query("value_counts")
def value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.value_counts (ref: …series_functions.py:1375) →
    groupBy().count() with pandas tie-order (count desc, then key asc)."""
    ord_ = _t(spark, sf_dir, "orders")
    return (
        ord_.groupBy(F.col("o_orderpriority").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("value").asc())
    )


oracle(
    "value_counts",
    """
    SELECT o_orderpriority AS value, count(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    ORDER BY cnt DESC, value ASC
    """,
)


@query("unique_distinct")
def unique_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.unique (ref: …series_functions.py:3389) → distinct (map-side
    partial dedup before the shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


oracle("unique_distinct", "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")


# --------------------------------------------------------------------------
# §2.7 sorts / top-k
# --------------------------------------------------------------------------


@query("sort_values")
def sort_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort_values with na_position='last' (ref: …series_functions.py:3853-3961,
    TBB parallel sort sdc/native/sort.cpp:43-128) → range-partitioned shuffle
    sort; NULLs forced last matches the reference's NaN placement."""
    ord_ = _t(spark, sf_dir, "orders")
    return (
        ord_.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_totalprice").desc_nulls_last(),
        )
        .limit(100)
    )


oracle(
    "sort_values",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY o_orderstatus ASC NULLS LAST, o_totalprice DESC NULLS LAST
    LIMIT 100
    """,
)


@query("nlargest_topk")
def nlargest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nlargest(n) (ref: …series_functions.py:1154) → orderBy().limit():
    Spark plans TakeOrderedAndProject — per-partition heap top-k, only k rows
    per partition reach the driver. The scalable top-k."""
    ord_ = _t(spark, sf_dir, "orders")
    return ord_.select("o_orderkey", "o_totalprice").orderBy(F.col("o_totalprice").desc()).limit(15)


oracle(
    "nlargest_topk",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 15",
)


# --------------------------------------------------------------------------
# §2.8 set ops / append
# --------------------------------------------------------------------------


@query("append_union")
def append_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.append with schema merging — missing columns become NULL
    (ref: …dataframe_functions.py:357-464) → unionByName(allowMissingColumns)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name"), "c_acctbal"
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("key"), F.col("s_name").alias("name")
    )
    return cust.unionByName(supp, allowMissingColumns=True)


oracle(
    "append_union",
    """
    SELECT c_custkey AS key, c_name AS name, c_acctbal FROM customer
    UNION ALL BY NAME
    SELECT s_suppkey AS key, s_name AS name FROM supplier
    """,
)


@query("except_intersect")
def except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference/intersection (absent in the reference — SURVEY §2.8
    marks them free in Spark): customers that placed orders (INTERSECT)
    minus the high-value ones (EXCEPT)."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    ord_ = _t(spark, sf_dir, "orders")
    with_orders = cust.intersect(ord_.select(F.col("o_custkey").alias("custkey")))
    big = ord_.filter(F.col("o_totalprice") > 300000.0).select(
        F.col("o_custkey").alias("custkey")
    )
    return with_orders.subtract(big)


oracle(
    "except_intersect",
    """
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
    """,
)
