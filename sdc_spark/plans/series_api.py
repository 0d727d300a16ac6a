"""Driver queries exercising the SparkSeries API surface added in round 2:
positional gather (iloc slice — ref …series_functions.py:834-961) and
series.groupby(by=series) (ref …series_functions.py:4720).

Both run through the frame layer (sdc_spark.frame.series), not plain
DataFrame code, so the driver gate checks the library path end-to-end.
Positions use the distributed order machinery (operators/order.py): range
partition + P-row offset broadcast — no full-data single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.frame.series import IDX, VAL, SparkSeries
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table


@query("series_gather")
def series_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.iloc[100:10000:7]: positional slice over the events value
    series indexed by event_id."""
    ev = read_table(spark, sf_dir, "events")
    s = SparkSeries.from_column(ev, "value", index_col="event_id")
    out = s.iloc[100:10000:7]
    return out._df.select(
        F.col(IDX).alias("event_id"), F.round(F.col(VAL), 4).alias("value")
    )


oracle(
    "series_gather",
    """
    WITH p AS (
        SELECT event_id, value,
               row_number() OVER (ORDER BY event_id) - 1 AS pos
        FROM events
    )
    SELECT event_id, round(value, 4) AS value
    FROM p
    WHERE pos >= 100 AND pos < 10000 AND (pos - 100) % 7 = 0
    """,
)


@query("series_groupby")
def series_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.groupby(by=series).sum()/count(): events value grouped by the
    user_id series (index-aligned on event_id). Values pre-scaled to
    integers (round(v*10000) as long) so the cross-engine sum is exact."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "v4", F.round(F.col("value") * 10000).cast("long")
    )
    v = SparkSeries.from_column(ev, "v4", index_col="event_id")
    k = SparkSeries.from_column(ev, "user_id", index_col="event_id")
    g = v.groupby(k)
    su = g.sum()._df.select(F.col(IDX).alias("user_id"), F.col(VAL).alias("v4_sum"))
    ct = g.count()._df.select(F.col(IDX).alias("user_id"), F.col(VAL).alias("n"))
    return su.join(ct, "user_id")


oracle(
    "series_groupby",
    """
    SELECT user_id,
           CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v4_sum,
           count(value) AS n
    FROM events
    GROUP BY user_id
    """,
)


@query("frame_rolling_api")
def frame_rolling_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.rolling through the frame API (ref
    …dataframe_rolling_functions.py:86-472): trailing-10 sum + count over
    the whole events value series — no grouping key, so this exercises the
    boundary-context-replicated distributed window (frame/rolling.py), not
    a partitioned one. Values integer-scaled for exact cross-engine sums."""
    from sdc_spark.frame.core import SparkFrame

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias(IDX),
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    r = SparkFrame(ev).rolling(10, min_periods=5)
    s = r.sum()._df.select(F.col(IDX).alias("event_id"), F.col("v4").alias("v4_rsum"))
    c = r.count()._df.select(F.col(IDX).alias("event_id"), F.col("v4").alias("n"))
    return s.join(c, "event_id")


oracle(
    "frame_rolling_api",
    """
    WITH t AS (
        SELECT event_id, CAST(round(value * 10000) AS BIGINT) AS v4 FROM events
    ), s AS (
        SELECT event_id, count(v4) OVER w AS n, sum(v4) OVER w AS sv
        FROM t
        WINDOW w AS (ORDER BY event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id,
           CASE WHEN n >= 5 THEN sv END AS v4_rsum,
           CASE WHEN n >= 5 THEN n END AS n
    FROM s
    """,
)


@query("series_ffill")
def series_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.fillna(method='ffill') over the global event_id order —
    range-partitioned carry + P-row boundary broadcast (no
    single-partition window). Every 7th value nulled to create gaps."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias(IDX),
        F.when(F.col("event_id") % 7 != 0, F.round("value", 4)).alias("v"),
    )
    s = SparkSeries.from_column(ev, "v", index_col=IDX)
    return s.ffill()._df.select(
        F.col(IDX).alias("event_id"), F.col(VAL).alias("v_filled")
    )


oracle(
    "series_ffill",
    """
    SELECT event_id,
           last_value(CASE WHEN event_id % 7 <> 0 THEN round(value, 4) END IGNORE NULLS)
               OVER (ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM events
    """,
)


@query("series_interpolate")
def series_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.interpolate('linear') over the events value series with
    every-7th value nulled — interior gaps linear in position, trailing
    forward-filled, leading left missing."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias(IDX),
        F.when(F.col("event_id") % 7 != 0, F.round("value", 4)).alias("v"),
    )
    s = SparkSeries.from_column(ev, "v", index_col=IDX)
    out = s.interpolate()
    return out._df.select(
        F.col(IDX).alias("event_id"), F.round(F.col(VAL), 4).alias("v_interp")
    )


oracle(
    "series_interpolate",
    """
    WITH base AS (
        SELECT event_id,
               row_number() OVER (ORDER BY event_id) - 1 AS pos,
               CASE WHEN event_id % 7 <> 0 THEN round(value, 4) END AS v
        FROM events
    ),
    f AS (
        SELECT *,
               last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                   OVER wf AS fp,
               last_value(v IGNORE NULLS) OVER wf AS fv,
               last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                   OVER wb AS bp,
               last_value(v IGNORE NULLS) OVER wb AS bv
        FROM base
        WINDOW wf AS (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wb AS (ORDER BY pos DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN fp IS NULL THEN NULL
                      WHEN bp IS NULL THEN fv
                      ELSE fv + (bv - fv) * ((pos - fp) / CAST(bp - fp AS DOUBLE))
                 END, 4) AS v_interp
    FROM f
    """,
)


@query("series_expanding")
def series_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.expanding(min_periods=5).sum()/mean() — prefix windows
    decomposed into distributed scans (never a single-partition unbounded
    window). Integer-scaled values for exact cross-engine sums."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias(IDX),
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    s = SparkSeries.from_column(ev, "v4", index_col=IDX)
    e = s.expanding(min_periods=5)
    su = e.sum()._df.select(F.col(IDX).alias("event_id"), F.col(VAL).alias("v4_esum"))
    me = e.mean().round(4)._df.select(
        F.col(IDX).alias("event_id"), F.col(VAL).alias("v4_emean")
    )
    return su.join(me, "event_id")


oracle(
    "series_expanding",
    """
    WITH t AS (
        SELECT event_id, CAST(round(value * 10000) AS BIGINT) AS v4 FROM events
    ), s AS (
        SELECT event_id, count(v4) OVER w AS n, CAST(sum(v4) OVER w AS BIGINT) AS sv
        FROM t
        WINDOW w AS (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id,
           CASE WHEN n >= 5 THEN sv END AS v4_esum,
           CASE WHEN n >= 5 THEN round(sv / CAST(n AS DOUBLE), 4) END AS v4_emean
    FROM s
    """,
)


@query("frame_pct_change")
def frame_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.pct_change (ref …dataframe_functions.py:2503): per-column
    fractional change in global index order through the frame layer — one
    boundary-context pass shifts all columns together."""
    from sdc_spark.frame.core import SparkFrame

    ev = read_table(spark, sf_dir, "events")
    f = SparkFrame(
        ev.select(
            F.col("event_id").alias(IDX),
            F.col("value").alias("v"),
            (F.col("user_id") % 97).cast("double").alias("u"),
        )
    )
    out = f.pct_change()  # default 'pad' fill before differencing
    return out._df.select(
        F.col(IDX).alias("event_id"),
        (F.round("v", 6) + 0.0).alias("pc_v"),
        (F.round("u", 6) + 0.0).alias("pc_u"),
    )


oracle(
    "frame_pct_change",
    """
    WITH t AS (
        SELECT event_id, value AS v, CAST(user_id % 97 AS DOUBLE) AS u
        FROM events
    ), s AS (
        SELECT event_id, v, u,
               lag(v) OVER (ORDER BY event_id) AS pv,
               lag(u) OVER (ORDER BY event_id) AS pu
        FROM t
    )
    SELECT event_id,
           round(CASE WHEN pv IS NULL THEN NULL
                      WHEN pv <> 0 THEN v / pv - 1
                      WHEN v > 0 THEN CAST('infinity' AS DOUBLE)
                      WHEN v < 0 THEN CAST('-infinity' AS DOUBLE)
                      ELSE CAST('nan' AS DOUBLE) END, 6) + 0.0 AS pc_v,
           round(CASE WHEN pu IS NULL THEN NULL
                      WHEN pu <> 0 THEN u / pu - 1
                      WHEN u > 0 THEN CAST('infinity' AS DOUBLE)
                      WHEN u < 0 THEN CAST('-infinity' AS DOUBLE)
                      ELSE CAST('nan' AS DOUBLE) END, 6) + 0.0 AS pc_u
    FROM s
    """,
)


@query("groupby_expanding")
def groupby_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.groupby(k).expanding().sum() — per-user prefix sums through the
    frame layer: one hash shuffle on the group key, group-local windows
    (no scan decomposition needed). Integer-scaled for exact sums."""
    from sdc_spark.frame.core import SparkFrame

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias(IDX),
        F.col("user_id"),
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    out = SparkFrame(ev).groupby("user_id").expanding(min_periods=3).sum()
    return out._df.select(
        F.col(IDX).alias("event_id"), "user_id", F.col("v4").alias("v4_esum")
    )


oracle(
    "groupby_expanding",
    """
    WITH t AS (
        SELECT event_id, user_id, CAST(round(value * 10000) AS BIGINT) AS v4
        FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN count(v4) OVER w >= 3
                THEN CAST(sum(v4) OVER w AS BIGINT) END AS v4_esum
    FROM t
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)


@query("frame_duplicated")
def frame_duplicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.duplicated / series.duplicated (pandas parity): flag repeat
    (o_custkey, o_orderpriority) rows keeping the min-index occurrence —
    one window shuffle on the key, null keys grouped like pandas NaN."""
    from sdc_spark.frame.core import SparkFrame

    ord_ = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias(IDX), "o_custkey", "o_orderpriority"
    )
    flags = SparkFrame(ord_).duplicated(subset=["o_custkey", "o_orderpriority"])
    return flags._df.select(
        F.col(IDX).alias("o_orderkey"), F.col(VAL).alias("is_dup")
    )


oracle(
    "frame_duplicated",
    """
    SELECT o_orderkey,
           o_orderkey <> min(o_orderkey) OVER (
               PARTITION BY o_custkey, o_orderpriority) AS is_dup
    FROM orders
    """,
)


@query("series_qcut_deciles")
def series_qcut_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.qcut(10) — scalable quantile binning (exact percentile
    boundaries broadcast, row-local bucket assignment; no global ntile
    window). Verified by per-decile counts and spans."""
    ord_ = read_table(spark, sf_dir, "orders")
    s = SparkSeries.from_column(ord_, "o_totalprice", index_col="o_orderkey")
    deciles = s.qcut(10)
    joined = ord_.select("o_orderkey", "o_totalprice").join(
        deciles._df.select(
            F.col(IDX).alias("o_orderkey"), F.col(VAL).alias("decile")
        ),
        "o_orderkey",
    )
    return (
        joined.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


oracle(
    "series_qcut_deciles",
    """
    WITH b AS (
        SELECT quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
        FROM orders
    ), assigned AS (
        SELECT o_totalprice,
               len(list_filter(b.bs, e -> o_totalprice > e)) AS decile
        FROM orders, b
    )
    SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
    FROM assigned GROUP BY decile ORDER BY decile
    """,
)


@query("onehot_priority")
def onehot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.get_dummies (one-hot encoding, explicit category list → single
    scan, row-local indicators) summed per order year."""
    from sdc_spark.frame.core import SparkFrame

    cats = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    ord_ = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias(IDX),
        F.year("o_orderdate").alias("o_year"),
        "o_orderpriority",
    )
    dummies = SparkFrame(ord_).get_dummies("o_orderpriority", categories=cats, prefix="p")
    agg_cols = [
        F.sum(f"`p_{c}`").alias(f"n_{c.split('-')[0]}") for c in cats
    ]
    return dummies._df.groupBy("o_year").agg(*agg_cols).orderBy("o_year")


oracle(
    "onehot_priority",
    """
    SELECT year(o_orderdate) AS o_year,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_2,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_3,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_4,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_5
    FROM orders GROUP BY 1 ORDER BY o_year
    """,
)


@query("series_mode")
def series_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.mode — all maximally-frequent values (1-row broadcast max)."""
    ev = read_table(spark, sf_dir, "events")
    s = SparkSeries.from_column(ev, "event_type", index_col="event_id")
    return s.mode()._df.select(F.col(VAL).alias("event_type")).orderBy("event_type")


oracle(
    "series_mode",
    """
    WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
    SELECT event_type FROM c WHERE n = (SELECT max(n) FROM c) ORDER BY event_type
    """,
)


@query("series_expanding_quantile")
def series_expanding_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expanding().median()/.quantile(0.25) through the Series API — the
    value-bucketed prefix-histogram scan (operators/order.py
    scan_quantile). floor(value) has a few hundred distinct values, far
    under max_buckets, so the histogram buckets ARE the distinct values
    and the result is exact (pandas linear interpolation between true
    order statistics) — hash-comparable against DuckDB's windowed
    quantile_cont. floor (not round) keeps the bucketed value free of
    half-even/half-away divergence between engines. Both quantiles come
    from ONE histogram scan (expanding().quantiles) — the single-q form
    would run the two-pass machinery twice and join."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias(IDX),
        F.floor(F.col("value")).cast("double").alias("fv"),
    )
    s = SparkSeries.from_column(ev, "fv", index_col=IDX)
    both = s.expanding(min_periods=1).quantiles({"emedian": 0.5, "eq25": 0.25})
    return both.select(
        F.col(IDX).alias("event_id"),
        F.round("emedian", 4).alias("emedian"),
        F.round("eq25", 4).alias("eq25"),
    )


oracle(
    "series_expanding_quantile",
    """
    WITH t AS (
        SELECT event_id, CAST(floor(value) AS DOUBLE) AS fv FROM events
    )
    SELECT event_id,
           round(quantile_cont(fv, 0.5) OVER w, 4) AS emedian,
           round(quantile_cont(fv, 0.25) OVER w, 4) AS eq25
    FROM t
    WINDOW w AS (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)


@query("series_ewm_mean")
def series_ewm_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ewm(alpha=0.02).mean() through the Series API — the segmented decay
    scan (operators/order.py scan_ewm, with no group keys). The oracle spells the same
    adjust=True definition with the scaling identity
    q^i · Σ q^(-j)x_j; the slice is bounded to 5000 rows so q^(-j) stays
    far from float overflow in plain SQL (the engine path needs no such
    bound — it renormalizes per chunk)."""
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select(F.col("event_id").alias(IDX), F.col("value").alias("v"))
    )
    s = SparkSeries.from_column(ev, "v", index_col=IDX)
    out = s.ewm(alpha=0.02).mean().round(4)
    return out._df.select(F.col(IDX).alias("event_id"), F.col(VAL).alias("ewm_mean"))


oracle(
    "series_ewm_mean",
    """
    WITH t AS (
        SELECT event_id, value,
               row_number() OVER (ORDER BY event_id) - 1 AS i
        FROM events WHERE event_id < 5000
    )
    SELECT event_id,
           round((pow(0.98, i) * sum(value * pow(0.98, -i)) OVER w)
                 / (pow(0.98, i) * sum(pow(0.98, -i)) OVER w), 4) AS ewm_mean
    FROM t
    WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)


@query("series_ewm_var")
def series_ewm_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ewm(alpha=0.02).var() — the four decayed sums (num, num2, den at
    decay q; den2 at q²) come from the same segmented decay scan as the
    mean (operators/order.py scan_ewm), which also finishes the variance;
    the oracle spells the identical reliability-weighted definition with
    the q^i scaling identity on the bounded slice."""
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select(F.col("event_id").alias(IDX), F.col("value").alias("v"))
    )
    s = SparkSeries.from_column(ev, "v", index_col=IDX)
    out = s.ewm(alpha=0.02).var().round(4)
    return out._df.select(F.col(IDX).alias("event_id"), F.col(VAL).alias("ewm_var"))


oracle(
    "series_ewm_var",
    """
    WITH t AS (
        SELECT event_id, value,
               row_number() OVER (ORDER BY event_id) - 1 AS i
        FROM events WHERE event_id < 5000
    ), s AS (
        SELECT event_id,
               pow(0.98, i) * sum(value * pow(0.98, -i)) OVER w AS num,
               pow(0.98, i) * sum(value * value * pow(0.98, -i)) OVER w AS num2,
               pow(0.98, i) * sum(pow(0.98, -i)) OVER w AS den,
               pow(0.9604, i) * sum(pow(0.9604, -i)) OVER w AS den2
        FROM t
        WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), v AS (
        SELECT event_id,
               (num2 / den - (num / den) * (num / den))
                   * (den * den) / nullif(den * den - den2, 0.0) AS var
        FROM s
    )
    SELECT event_id,
           round(CASE WHEN var < 0 THEN 0.0 ELSE var END, 4) AS ewm_var
    FROM v
    """,
)


@query("groupby_ewm_mean")
def groupby_ewm_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.groupby(user).ewm(alpha=0.1).mean() through the frame layer —
    the segmented decay scan range-partitioned by (user, event_id)
    (operators/order.py scan_ewm): pandas' groupby-ewm for the groups
    inside a partition, a carried seed for the one group that straddles
    each boundary. Groups are <100 rows, so the oracle's q^i scaling
    identity is overflow-safe without slicing."""
    from sdc_spark.frame.core import SparkFrame

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias(IDX),
        F.col("user_id"),
        F.col("value"),
    )
    out = SparkFrame(ev).groupby("user_id").ewm(alpha=0.1, min_periods=1).mean()
    return out._df.select(
        F.col(IDX).alias("event_id"),
        "user_id",
        F.round(F.col("value"), 4).alias("ewm_value"),
    )


oracle(
    "groupby_ewm_mean",
    """
    WITH t AS (
        SELECT event_id, user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS i
        FROM events
    )
    SELECT event_id, user_id,
           round((pow(0.9, i) * sum(value * pow(0.9, -i)) OVER w)
                 / (pow(0.9, i) * sum(pow(0.9, -i)) OVER w), 4) AS ewm_value
    FROM t
    WINDOW w AS (PARTITION BY user_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
