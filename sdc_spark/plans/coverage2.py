"""Coverage batch 2 — operator families rounding out SURVEY §2 rows that
had test-only coverage, plus Spark-free extensions the reference lacks
(rank family, range join, JSON extraction; SURVEY §2.3/§2.8/§2.9 mark
these 'free in Spark').

All queries here are DuckDB-oracled; float outputs follow the repo's
cross-engine exactness rules (round(4) on both sides, or exact integer
derivations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sdc_spark.operators.asof import merge_asof
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


@query("merge_asof_forward")
def merge_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.merge_asof(direction='forward') (ref test_join.py:238-263 models
    backward; forward is the same union+carry plan run with lead instead of
    lag): each order picks up shipping stats of the EARLIEST ship-date >=
    its order date."""
    ord_ = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    daily = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").alias("ship_ts"))
        .agg(F.round(F.sum("l_quantity"), 4).alias("day_qty"))
    )
    out = merge_asof(
        ord_.withColumnRenamed("o_orderdate", "ts"),
        daily.withColumnRenamed("ship_ts", "ts"),
        on="ts",
        direction="forward",
    )
    return out.select("o_orderkey", F.col("ts").alias("o_orderdate"), "day_qty")


oracle(
    "merge_asof_forward",
    """
    SELECT o_orderkey, o_orderdate, day_qty
    FROM (SELECT o_orderkey, o_orderdate FROM orders) o
    ASOF LEFT JOIN (
        SELECT l_shipdate AS ship_ts, round(sum(l_quantity), 4) AS day_qty
        FROM lineitem GROUP BY l_shipdate
    ) d ON d.ship_ts >= o.o_orderdate
    """,
)


@query("merge_asof_nearest")
def merge_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.merge_asof(direction='nearest'): closer of the backward/forward
    matches, ties -> backward (pandas tie rule). Both carries run over one
    shared range partitioning (operators/asof.py)."""
    ord_ = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    daily = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").alias("ship_ts"))
        .agg(F.round(F.sum("l_quantity"), 4).alias("day_qty"))
    )
    out = merge_asof(
        ord_.withColumnRenamed("o_orderdate", "ts"),
        daily.withColumnRenamed("ship_ts", "ts"),
        on="ts",
        direction="nearest",
    )
    return out.select("o_orderkey", F.col("ts").alias("o_orderdate"), "day_qty")


oracle(
    "merge_asof_nearest",
    """
    WITH d AS (
        SELECT l_shipdate AS ship_ts, round(sum(l_quantity), 4) AS day_qty
        FROM lineitem GROUP BY l_shipdate
    )
    SELECT o.o_orderkey, o.o_orderdate,
           (SELECT d.day_qty FROM d
            ORDER BY abs(date_diff('day', o.o_orderdate, d.ship_ts)), d.ship_ts
            LIMIT 1) AS day_qty
    FROM orders o
    """,
)


@query("window_rank_family")
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / ntile — absent in the reference
    (only argsort, …series_functions.py:3735); free Spark window functions.
    The ORDER BY key (o_totalprice, o_orderkey) is unique, so every rank is
    deterministic across engines."""
    ord_ = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return ord_.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 4).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


oracle(
    "window_rank_family",
    """
    SELECT o_orderkey, o_orderpriority,
           rank() OVER w        AS rnk,
           dense_rank() OVER w  AS drnk,
           round(percent_rank() OVER w, 4) AS prnk,
           ntile(4) OVER w      AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)


@query("groupby_quantiles")
def groupby_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile grid (ref Series.quantile
    …series_functions.py:2880 — linear interpolation, exact): F.percentile
    is the exact linear-interpolation quantile, matching DuckDB
    quantile_cont. Values rounded(4) on both sides."""
    li = _t(spark, sf_dir, "lineitem")
    # one percentile aggregate with an array of qs: a single per-group sort
    # buffer serves all four quantiles (4 separate percentile() calls build
    # 4 buffers — 4x the aggregation state at scale)
    qs = F.percentile(
        "l_extendedprice", F.array(*[F.lit(q) for q in (0.25, 0.5, 0.75, 0.99)])
    )
    return li.groupBy("l_returnflag").agg(qs.alias("qs")).select(
        "l_returnflag",
        *[
            F.round(F.col("qs")[i], 4).alias(name)
            for i, name in enumerate(["p25", "p50", "p75", "p99"])
        ],
    )


oracle(
    "groupby_quantiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


@query("window_diff")
def window_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.diff(periods) ≡ x − shift(x, periods) (ref shift
    …series_functions.py:1936; diff composes it with the subtraction
    semantics of §2.9): per-user first difference and 3-step difference
    over the event stream."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value", 1).over(w), 4).alias("diff1"),
        F.round(F.col("value") - F.lag("value", 3).over(w), 4).alias("diff3"),
    )


oracle(
    "window_diff",
    """
    SELECT user_id, event_id,
           round(value - lag(value, 1) OVER w, 4) AS diff1,
           round(value - lag(value, 3) OVER w, 4) AS diff3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)


@query("concat_frames")
def concat_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.concat of schema-divergent frames (ref: legacy-only,
    test_hiframes.py:713-744; df.append schema-merging
    …dataframe_functions.py:357-464): three projections of customer with
    different column sets, missing columns null-filled —
    unionByName(allowMissingColumns=True)."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_name", F.round("c_acctbal", 4).alias("c_acctbal")
    )
    b = cust.filter(F.col("c_custkey") % 3 == 1).select("c_custkey", "c_mktsegment")
    c = cust.filter(F.col("c_custkey") % 3 == 2).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return a.unionByName(b, allowMissingColumns=True).unionByName(
        c, allowMissingColumns=True
    )


oracle(
    "concat_frames",
    """
    SELECT * FROM (
        SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        FROM customer WHERE c_custkey % 3 = 0
    )
    UNION ALL BY NAME
    (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 1)
    UNION ALL BY NAME
    (SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 3 = 2)
    """,
)


@query("join_range_interval")
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (interval) join — absent in the reference, free in
    Spark (SURVEY §2.3): lines matched to their part where the shipped
    quantity falls inside a size-derived band. The equi key keeps the join
    hash-partitionable at scale; the range predicate is evaluated post-probe
    (no nested-loop blowup)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(
            F.broadcast(part),
            (li.l_partkey == part.p_partkey)
            & (li.l_quantity >= part.p_size - 5)
            & (li.l_quantity <= part.p_size + 5),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_in_band"),
            F.round(F.sum("l_extendedprice"), 4).alias("band_revenue"),
        )
    )


oracle(
    "join_range_interval",
    """
    SELECT p_brand, count(*) AS n_in_band,
           round(sum(l_extendedprice), 4) AS band_revenue
    FROM lineitem JOIN part
      ON l_partkey = p_partkey
     AND l_quantity BETWEEN p_size - 5 AND p_size + 5
    GROUP BY p_brand
    """,
)


@query("map_dict_recode")
def map_dict_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.map(dict) (ref …pandas_series_functions/map.py:38-115):
    dict-map compiled to a JVM literal map lookup — unmatched keys → null
    (pandas semantics), no Python in the loop."""
    mapping = {"A": "acked", "N": "new", "R": "returned"}
    m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        m[F.col("l_returnflag")].alias("flag_label"),
        m[F.col("l_linestatus")].alias("status_label"),
    ).agg(F.count(F.lit(1)).alias("n"))


oracle(
    "map_dict_recode",
    """
    WITH m AS (
        SELECT CASE l_returnflag WHEN 'A' THEN 'acked' WHEN 'N' THEN 'new'
                                 WHEN 'R' THEN 'returned' END AS flag_label,
               CASE l_linestatus WHEN 'A' THEN 'acked' WHEN 'N' THEN 'new'
                                 WHEN 'R' THEN 'returned' END AS status_label
        FROM lineitem
    )
    SELECT flag_label, status_label, count(*) AS n FROM m
    GROUP BY flag_label, status_label
    """,
)


@query("json_props_extract")
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + regexp_extract — absent in the reference
    (SURVEY §2.9 'JSON functions: absent → Spark built-ins free'):
    get_json_object over the events props column and a numeric capture from
    customer names, aggregated."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            F.regexp_extract("event_type", r"([a-z]+)", 1).alias("ev_word"),
        )
        .groupBy("event_type", "ev_word")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


oracle(
    "json_props_extract",
    """
    SELECT event_type,
           regexp_extract(event_type, '([a-z]+)', 1) AS ev_word,
           count(*) AS n,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_min,
           CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_max
    FROM events
    GROUP BY event_type, ev_word
    """,
)


@query("rolling_skew_kurt")
def rolling_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling skew/kurt (ref …series_rolling_functions.py:106-1140, pandas
    sample-adjusted formulas per sdc/functions/statistics.py:32-40) with the
    cross-engine-exact scheme: power sums of the 100x-scaled integer value
    are EXACT (long up to x³; decimal(38,0) for x⁴ — x⁴ overflows int64,
    and ANSI mode would throw — DuckDB side uses HUGEINT), then both
    engines run the identical double expression tree (+,−,·,/, sqrt only —
    pow() implementations differ at 1 ulp between libms, sqrt is IEEE
    correctly rounded). Skew/kurt are scale-invariant, so the 100x factor
    never needs dividing out."""
    from sdc_spark.operators.rolling import over_once, rolling_window, scaled_long

    ev = _t(spark, sf_dir, "events")
    w = rolling_window(["ts", "event_id"], ["user_id"], window=12)
    xv = scaled_long("value", 2)
    d = xv.cast("decimal(19,0)")
    s = over_once(
        ev,
        w,
        ["user_id", "event_id"],
        {
            "n": F.count("value"),
            "sx": F.sum(xv),
            "sxx": F.sum(xv * xv),
            "sxxx": F.sum(xv * xv * xv),
            "sxxxx": F.sum((d * d) * (d * d)),
        },
    )
    n = F.col("n")
    nd = n.cast("double")
    sx, sxx, sxxx, sxxxx = (F.col(c).cast("double") for c in ("sx", "sxx", "sxxx", "sxxxx"))
    m = sx / nd
    ex2 = sxx / nd
    ex3 = sxxx / nd
    ex4 = sxxxx / nd
    m2 = ex2 - m * m
    m3 = ex3 - 3 * m * ex2 + 2 * m * m * m
    m4 = ex4 - 4 * m * ex3 + 6 * m * m * ex2 - 3 * m * m * m * m
    g1 = F.try_divide(m3, F.sqrt(m2 * m2 * m2))
    skew = g1 * F.try_divide(F.sqrt(nd * (nd - 1)), nd - 2)
    g2 = F.try_divide(m4, m2 * m2) - 3
    kurt = F.try_divide(((nd + 1) * g2 + 6) * (nd - 1), (nd - 2) * (nd - 3))
    return s.select(
        "user_id",
        "event_id",
        F.when(n >= 5, skew).alias("roll_skew"),
        F.when(n >= 5, kurt).alias("roll_kurt"),
    )


oracle(
    "rolling_skew_kurt",
    """
    WITH t AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100, 0) AS BIGINT) AS xv
        FROM events
    ), s AS (
        SELECT user_id, event_id,
               count(xv) OVER w AS n,
               CAST(sum(xv) OVER w AS DOUBLE) AS sx,
               CAST(sum(xv * xv) OVER w AS DOUBLE) AS sxx,
               CAST(sum(xv * xv * xv) OVER w AS DOUBLE) AS sxxx,
               CAST(sum((CAST(xv AS HUGEINT) * xv) * (CAST(xv AS HUGEINT) * xv)) OVER w
                    AS DOUBLE) AS sxxxx
        FROM t
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
    ), f AS (
        SELECT user_id, event_id, n,
               CAST(n AS DOUBLE) AS nd,
               sx / CAST(n AS DOUBLE) AS m,
               sxx / CAST(n AS DOUBLE) AS ex2,
               sxxx / CAST(n AS DOUBLE) AS ex3,
               sxxxx / CAST(n AS DOUBLE) AS ex4
        FROM s
    ), g AS (
        SELECT user_id, event_id, n, nd, m,
               ex2 - m * m AS m2,
               ex3 - 3 * m * ex2 + 2 * m * m * m AS m3,
               ex4 - 4 * m * ex3 + 6 * m * m * ex2 - 3 * m * m * m * m AS m4
        FROM f
    )
    SELECT user_id, event_id,
           CASE WHEN n >= 5 THEN
               (m3 / sqrt(m2 * m2 * m2)) * (sqrt(nd * (nd - 1)) / (nd - 2))
           END AS roll_skew,
           CASE WHEN n >= 5 THEN
               (((nd + 1) * (m4 / (m2 * m2) - 3) + 6) * (nd - 1))
               / ((nd - 2) * (nd - 3))
           END AS roll_kurt
    FROM g
    """,
)


@query("groupby_transform")
def groupby_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gb.transform (absent in the reference — SURVEY §2.5 'free in
    Spark'): per-group mean/count broadcast back onto every row as a
    partition-wide window aggregate (no self-join), plus the derived
    z-score. Integer co-moment variance for cross-engine exactness
    (acctbal is 2-decimal)."""
    from sdc_spark.operators.rolling import over_once

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    xv = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    s = over_once(
        cust,
        w,
        ["c_custkey", "c_mktsegment", "c_acctbal"],
        {"n": F.count("c_acctbal"), "sx": F.sum(xv), "sxx": F.sum(xv * xv)},
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var = F.try_divide((n * sxx - sx * sx).cast("double"), (n * (n - 1)).cast("double"))
    std = F.sqrt(var)
    mean = sx.cast("double") / n.cast("double")
    z = F.try_divide(xv.cast("double") - mean, std)
    return s.select(
        "c_custkey",
        "c_mktsegment",
        n.alias("seg_n"),
        F.round(mean / 100.0, 4).alias("seg_mean"),
        z.alias("zscore"),
    )


oracle(
    "groupby_transform",
    """
    WITH t AS (
        SELECT c_custkey, c_mktsegment,
               CAST(round(c_acctbal * 100, 0) AS BIGINT) AS xv
        FROM customer
    ), s AS (
        SELECT c_custkey, c_mktsegment, xv,
               count(xv) OVER w AS n,
               sum(xv) OVER w AS sx,
               sum(xv * xv) OVER w AS sxx
        FROM t
        WINDOW w AS (PARTITION BY c_mktsegment)
    )
    SELECT c_custkey, c_mktsegment,
           n AS seg_n,
           round((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 4) AS seg_mean,
           (CAST(xv AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
           AS zscore
    FROM s
    """,
)


@query("event_funnel")
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel over the event stream (view → click → purchase
    per user, event-time ordered): per-step first-occurrence timestamps via
    conditional min, conversion = each step's time must follow the
    previous step's. One shuffle (groupBy user); the pattern is the
    batch twin of a streaming sessionized funnel."""
    ev = _t(spark, sf_dir, "events")
    first_ts = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.select(
        "user_id",
        F.col("t_view").isNotNull().alias("did_view"),
        (F.col("t_click") > F.col("t_view")).alias("clicked_after_view"),
        (
            (F.col("t_click") > F.col("t_view"))
            & (F.col("t_purchase") > F.col("t_click"))
        ).alias("full_funnel"),
    )


oracle(
    "event_funnel",
    """
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           t_view IS NOT NULL AS did_view,
           t_click > t_view AS clicked_after_view,
           (t_click > t_view AND t_purchase > t_click) AS full_funnel
    FROM per_user
    """,
)


@query("retention_cohort")
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, distinct
    active users counted per (cohort, weeks-since-cohort) cell. Two
    shuffles (first-seen per user, then the cohort-cell aggregate) — the
    standard warehouse retention matrix, fully distributive."""
    ev = _t(spark, sf_dir, "events")
    wk = lambda c: F.date_trunc("week", F.col(c))  # noqa: E731
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(first_seen, "user_id")
        .groupBy(
            F.col("cohort_week"),
            F.floor(
                F.datediff(wk("ts"), F.col("cohort_week")) / F.lit(7)
            ).alias("weeks_since"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("active_users"))
    )


oracle(
    "retention_cohort",
    """
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT cohort_week,
           CAST(floor(date_diff('day', cohort_week, date_trunc('week', ts)) / 7)
                AS BIGINT) AS weeks_since,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """,
)


@query("window_value_family")
def window_value_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value / cume_dist — rounds out the
    §2.6 window-function family (rank family has its own query). Frames
    pinned explicitly: first/nth over the growing frame, last over the
    full partition (the default growing frame makes last_value ≡ current
    row — always a bug, never an intent)."""
    ord_ = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ord_.select(
        "o_orderkey",
        "o_orderpriority",
        F.first_value("o_orderkey").over(w).alias("top_key"),
        F.last_value("o_orderkey").over(wfull).alias("bottom_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
        F.round(F.cume_dist().over(w), 4).alias("cdist"),
    )


oracle(
    "window_value_family",
    """
    SELECT o_orderkey, o_orderpriority,
           first_value(o_orderkey) OVER w AS top_key,
           last_value(o_orderkey) OVER wf AS bottom_key,
           nth_value(o_orderkey, 2) OVER w AS second_key,
           round(cume_dist() OVER w, 4) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey),
           wf AS (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
