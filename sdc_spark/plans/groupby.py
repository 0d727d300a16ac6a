"""GroupBy coverage: SURVEY.md §2.5.

The reference builds per-chunk Dict[key → row positions] then merges and
re-gathers (/root/reference/sdc/datatypes/hpat_pandas_groupby_functions.py:59-358)
— an in-core emulation of exactly what Spark's HashAggregateExec does with
partial aggregation before the shuffle. Every query here shuffles only
(key, partial-state) pairs, never raw rows, so they scale linearly.

NaN-key semantics: the reference DROPS null group keys
(…dataframe_functions.py:3088); Spark groupBy keeps them — queries filter
null keys explicitly where parity matters (the test tables have none, but
the convention is encoded in the frame API).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


@query("groupby_agg_core")
def groupby_agg_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 9 DataFrameGroupBy aggs of the reference
    (…groupby_functions.py:361-481): count/max/mean/median/min/prod/std/sum/var
    in one pass."""
    ord_ = _t(spark, sf_dir, "orders")
    return ord_.groupBy("o_orderstatus").agg(
        F.count("o_totalprice").alias("cnt"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
        F.round(F.median("o_totalprice"), 4).alias("median_price"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("std_price"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        F.round(F.var_samp("o_totalprice"), 4).alias("var_price"),
    )


oracle(
    "groupby_agg_core",
    """
    SELECT o_orderstatus,
           count(o_totalprice)                 AS cnt,
           round(max(o_totalprice), 4)         AS max_price,
           round(avg(o_totalprice), 4)         AS mean_price,
           round(median(o_totalprice), 4)      AS median_price,
           round(min(o_totalprice), 4)         AS min_price,
           round(stddev_samp(o_totalprice), 4) AS std_price,
           round(sum(o_totalprice), 4)         AS sum_price,
           round(var_samp(o_totalprice), 4)    AS var_price
    FROM orders GROUP BY o_orderstatus
    """,
)


@query("groupby_prod")
def groupby_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gb.prod (ref …groupby_functions.py:361-481). Computed on a bounded
    column (discount+1) so the product stays in double range at any scale;
    F.product is the native partial-aggregating form."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 64)
    return li.groupBy("l_orderkey").agg(
        F.round(F.product(F.col("l_discount") + 1), 6).alias("prod_disc"),
        F.count(F.lit(1)).alias("n_items"),
    )


oracle(
    "groupby_prod",
    """
    SELECT l_orderkey, round(product(l_discount + 1), 6) AS prod_disc,
           count(*) AS n_items
    FROM lineitem WHERE l_orderkey <= 64 GROUP BY l_orderkey
    """,
)


@query("groupby_multikey_sorted")
def groupby_multikey_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key groupby + sort=True semantics (result ordered by keys,
    ref …dataframe_functions.py:3088 mergesort of keys)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
            F.countDistinct("l_suppkey").alias("n_supp"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


oracle(
    "groupby_multikey_sorted",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 4) AS sum_price,
           count(DISTINCT l_suppkey)      AS n_supp
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)


@query("groupby_having")
def groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + post-aggregation filter (HAVING): high-volume customers."""
    ord_ = _t(spark, sf_dir, "orders")
    return (
        ord_.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .filter(F.col("n_orders") >= 12)
    )


oracle(
    "groupby_having",
    """
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
    FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)


@query("groupby_idx_extremes")
def groupby_idx_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group idxmax/idxmin (ref Series idxmax/idxmin
    …series_functions.py:2715/3246 lifted over groups): the orderkey of each
    customer's priciest order, one aggregation pass via max_by."""
    ord_ = _t(spark, sf_dir, "orders")
    return ord_.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("best_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("worst_order"),
        F.round(F.max("o_totalprice"), 4).alias("best_price"),
    )


oracle(
    "groupby_idx_extremes",
    """
    SELECT o_custkey,
           max_by(o_orderkey, o_totalprice) AS best_order,
           min_by(o_orderkey, o_totalprice) AS worst_order,
           round(max(o_totalprice), 4)      AS best_price
    FROM orders GROUP BY o_custkey
    """,
)


@query("cube_rollup")
def cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (absent in the reference — SURVEY §2.5 'free in
    Spark'): subtotals across both flag dimensions."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


oracle(
    "cube_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


@query("pivot_wide")
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide (absent in reference; pandas pivot_table equivalent).
    Explicit pivot values keep the plan single-pass (no values-discovery job)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_finished"})
    )


oracle(
    "pivot_wide",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_finished
    FROM lineitem GROUP BY l_returnflag
    """,
)


@query("groupby_string_agg")
def groupby_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive collect: per-region sorted nation list (tests
    deterministic collect_list — sort_array makes it partition-order-proof)."""
    nat = _t(spark, sf_dir, "nation")
    return nat.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


oracle(
    "groupby_string_agg",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)


@query("grouping_sets_id")
def grouping_sets_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id — the general form behind
    cube/rollup (SURVEY §2.5 'free in Spark'): per-flag, per-status, and
    grand-total rows distinguished by the grouping bitmask."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS cnt
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


oracle(
    "grouping_sets_id",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
           round(sum(l_quantity), 4) AS sum_qty,
           count(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
