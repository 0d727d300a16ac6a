"""Window & rolling coverage: SURVEY.md §2.6 (rolling) plus the windowed
reductions of §2.4 (cumsum, pct_change, shift).

The reference implements trailing row windows with incremental pop/put
kernels (/root/reference/sdc/datatypes/hpat_pandas_series_rolling_functions.py:207-560)
— single-node, parallelism disabled (numba#5098). Here each is one Spark
window spec: WindowExec evaluates partitions independently after a
range/hash shuffle, spills if a partition exceeds memory, and keeps the
whole expression in the JVM.

Determinism on a cluster: every window orders by a unique key chain
(ts, id) so row order — and therefore lag/row_number output — is stable
under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sdc_spark.operators.rolling import (
    exact_cov_corr,
    exact_var_std,
    native,
    over_once,
    rolling_agg,
    rolling_window,
    scaled_long,
)
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


@query("window_topk_per_group")
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number over (custkey | price desc).
    The distributed top-k-per-group idiom (SURVEY §2.7)."""
    ord_ = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        ord_.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
    )


oracle(
    "window_topk_per_group",
    """
    SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) t WHERE rk <= 3
    """,
)


@query("window_cumsum")
def window_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.cumsum (ref …series_functions.py:3452, kernel
    numpy_like.py:875-958): running total per customer in order-date order."""
    ord_ = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return ord_.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
    )


oracle(
    "window_cumsum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
    FROM orders
    """,
)


@query("window_shift_lag")
def window_shift_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.shift(periods, fill_value) (ref …series_functions.py:1936):
    previous/next event value per user with fill_value=0 for the edges."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        F.round(F.lag("value", 1, 0.0).over(w), 4).alias("prev_value"),
        F.round(F.lead("value", 1, 0.0).over(w), 4).alias("next_value"),
    )


oracle(
    "window_shift_lag",
    """
    SELECT user_id, event_id, round(value, 4) AS value,
           round(lag(value, 1, 0.0)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_value,
           round(lead(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS next_value
    FROM events
    """,
)


@query("window_pct_change")
def window_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.pct_change (ref …series_functions.py:4233): v/lag(v) - 1 per
    user over time, with pandas zero-division semantics (prev=0 → ±inf/NaN
    — plain division raises under ANSI and returns NULL in DuckDB)."""
    from sdc_spark.functions.expressions import pandas_div

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value", 1).over(w)
    return ev.select(
        "user_id",
        "event_id",
        # no rounding: the ratio is the same IEEE operation on the same
        # doubles in both engines (bit-identical), while decimal rounding
        # diverges on exact-halfway values (Spark BigDecimal HALF_UP vs
        # binary-double rounding — observed at sf0.1: 8.0046875)
        (F.when(prev.isNotNull(), pandas_div(F.col("value"), prev) - 1) + 0.0).alias(
            "pct_change"
        ),
    )


oracle(
    "window_pct_change",
    """
    WITH t AS (
        SELECT user_id, event_id, value,
               lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    )
    SELECT user_id, event_id,
           CASE WHEN prev IS NULL THEN NULL
                WHEN prev <> 0 THEN value / prev - 1
                WHEN value > 0 THEN CAST('infinity' AS DOUBLE)
                WHEN value < 0 THEN CAST('-infinity' AS DOUBLE)
                ELSE CAST('nan' AS DOUBLE) END + 0.0 AS pct_change
    FROM t
    """,
)


@query("rolling_basic")
def rolling_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling(7, min_periods=3).{sum,mean,min,max,count} (ref rolling
    kernels …series_rolling_functions.py:207-560) via operators.rolling."""
    ev = _t(spark, sf_dir, "events")
    out = rolling_agg(
        ev,
        col="value",
        aggs=["sum", "mean", "min", "max", "count"],
        order_by=["ts", "event_id"],
        partition_by=["user_id"],
        window=7,
        min_periods=3,
    )
    return out.select(
        "user_id",
        "event_id",
        F.round("sum_value", 4).alias("roll_sum"),
        F.round("mean_value", 4).alias("roll_mean"),
        F.round("min_value", 4).alias("roll_min"),
        F.round("max_value", 4).alias("roll_max"),
        F.col("count_value").alias("roll_count"),
    )


oracle(
    "rolling_basic",
    """
    WITH t AS (
        SELECT user_id, event_id,
               count(value) OVER w AS n,
               sum(value) OVER w AS s, avg(value) OVER w AS m,
               min(value) OVER w AS mn, max(value) OVER w AS mx
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round(CASE WHEN n >= 3 THEN s END, 4)  AS roll_sum,
           round(CASE WHEN n >= 3 THEN m END, 4)  AS roll_mean,
           round(CASE WHEN n >= 3 THEN mn END, 4) AS roll_min,
           round(CASE WHEN n >= 3 THEN mx END, 4) AS roll_max,
           n AS roll_count
    FROM t
    """,
)


@query("rolling_stats")
def rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling std/var (ddof=1) + median (recompute-per-window in the
    reference). var/std use the integer-co-moment formulation
    (operators.rolling.exact_var_std): the input is 2-decimal data, so both
    engines sum exact longs and the statistic is cross-engine bit-identical
    — rounding boundaries can't flip (native var_samp window kernels differ
    between engines at ~1e-6 relative, which DOES flip 4-decimal rounding
    on this data)."""
    ev = _t(spark, sf_dir, "events")
    w = rolling_window(["ts", "event_id"], ["user_id"], window=10)
    aggs, n, var, std = exact_var_std(scaled_long("value", 2), "x", scale=100)
    median_aggs, median = native("median", F.col("value"), "v")
    s = over_once(ev, w, ["user_id", "event_id"], {**aggs, **median_aggs})
    # the kernel's count of the scaled value is null exactly where value is
    guard = lambda e: F.when(n >= 5, e)  # noqa: E731
    # std/var are emitted UNROUNDED: both engines derive them from the same
    # exact integers with the same double ops, so the bit patterns match —
    # engine round() implementations disagree near boundaries, raw doubles
    # cannot.
    return s.select(
        "user_id",
        "event_id",
        guard(std).alias("roll_std"),
        guard(var).alias("roll_var"),
        (F.round(guard(median), 4) + 0.0).alias("roll_median"),
    )


oracle(
    "rolling_stats",
    """
    WITH t AS (
        SELECT user_id, event_id, ts, value,
               CAST(round(value * 100, 0) AS BIGINT) AS xv
        FROM events
    ), s AS (
        SELECT user_id, event_id,
               count(xv) OVER w AS n,
               sum(xv) OVER w AS sx,
               sum(xv * xv) OVER w AS sxx,
               median(value) OVER w AS md
        FROM t
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ), v AS (
        SELECT user_id, event_id, n, md,
               CAST(n * sxx - sx * sx AS DOUBLE)
                   / CAST(n * (n - 1) AS DOUBLE) / 10000.0 AS vr
        FROM s
    )
    SELECT user_id, event_id,
           CASE WHEN n >= 5 THEN sqrt(vr) END              AS roll_std,
           CASE WHEN n >= 5 THEN vr END                    AS roll_var,
           round(CASE WHEN n >= 5 THEN md END, 4) + 0.0    AS roll_median
    FROM v
    """,
)


@query("rolling_corr_cov")
def rolling_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling.corr/cov pairwise kernels (ref
    …series_rolling_functions.py:798-900): price vs quantity over a trailing
    20-shipment window per supplier. Integer-co-moment formulation
    (operators.rolling.exact_cov_corr) for cross-engine bit-identical
    values; quantities are whole numbers (scale 1), prices 2-decimal
    (scale 100)."""
    li = _t(spark, sf_dir, "lineitem")
    q = scaled_long("l_quantity", 0)
    p = scaled_long("l_extendedprice", 2)
    # the synthetic lineitem carries duplicate (shipdate, orderkey,
    # linenumber) rows within a supplier — the value columns join the sort
    # key so the window order is TOTAL: with a tie, engines may disagree
    # on which duplicate leaves the 20-row frame first, silently changing
    # a downstream row 20 positions later
    w = rolling_window(
        ["l_shipdate", "l_orderkey", "l_linenumber", q, p],
        ["l_suppkey"],
        window=20,
    )
    aggs, n, cov, corr = exact_cov_corr(q, p, "qp", scale_x=1, scale_y=100)
    s = over_once(li, w, ["l_suppkey", "l_orderkey", "l_linenumber"], aggs)
    # guarded on the kernel's count(q), null exactly where l_quantity is;
    # unrounded on purpose — see rolling_stats
    return s.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.when(n >= 5, corr).alias("roll_corr"),
        F.when(n >= 5, cov).alias("roll_cov"),
    )


oracle(
    "rolling_corr_cov",
    """
    WITH t AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
               CAST(round(l_quantity, 0) AS BIGINT)            AS qv,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pv
        FROM lineitem
    ), s AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               count(qv) OVER w AS n,
               sum(qv) OVER w AS sq, sum(pv) OVER w AS sp,
               sum(qv * pv) OVER w AS sqp,
               sum(qv * qv) OVER w AS sqq, sum(pv * pv) OVER w AS spp
        FROM t
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber, qv, pv
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), v AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, n,
               CAST(n * sqp - sq * sp AS DOUBLE)
                   / CAST(n * (n - 1) AS DOUBLE) / 100.0 AS cv,
               CASE WHEN n * sqq - sq * sq = 0 OR n * spp - sp * sp = 0 THEN NULL
                    ELSE CAST(n * sqp - sq * sp AS DOUBLE)
                         / (sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
                            * sqrt(CAST(n * spp - sp * sp AS DOUBLE)))
               END AS cr
        FROM s
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CASE WHEN n >= 5 THEN cr END AS roll_corr,
           CASE WHEN n >= 5 THEN cv END AS roll_cov
    FROM v
    """,
)
