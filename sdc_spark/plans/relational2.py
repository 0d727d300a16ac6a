r"""Round-5 relational/time-series batch: upsert (MERGE-style), CDC
changelog compaction, calendar gap-filling with a generated date
dimension, event-path n-gram analysis, and windowed trending top-k.

All fully DuckDB-oracled; scale notes per query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sdc_spark.operators.upsert import latest_by_key, upsert
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


@query("upsert_orders")
def upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert: a derived delta batch (every URGENT order,
    repriced +10%) replaces its target rows. Delta is broadcast — the
    wide target rows never shuffle. Verified by per-status totals."""
    orders = _t(spark, sf_dir, "orders")
    delta = orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") * 1.10, 2)
    )
    merged = upsert(orders, delta, ["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


oracle(
    "upsert_orders",
    """
    WITH delta AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               round(o_totalprice * 1.10, 2) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ), merged AS (
        SELECT * FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority FROM delta
    )
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)


@query("cdc_latest_state")
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: events as a CDC stream keyed by user — the
    latest (ts, event_id) row wins. ONE max_by hash aggregate; no window,
    no sort, deterministic under ts ties via the event_id tie-breaker."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    latest = latest_by_key(ev, ["user_id"], "ts", tie_breaker="event_id")
    return latest.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        F.round("value", 4).alias("value"),
    ).orderBy("user_id")


oracle(
    "cdc_latest_state",
    """
    WITH r AS (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
           round(value, 4) AS value
    FROM r WHERE rn = 1 ORDER BY user_id
    """,
)


@query("calendar_gap_fill")
def calendar_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-calendar gap filling: generate the full day dimension with
    spark.range (distributed sequence — the pd.date_range equivalent),
    left join daily order aggregates onto it, fill absent days with 0.
    The generated dimension is tiny and the per-day aggregate is one
    map-side-combined shuffle; the join broadcasts the aggregate."""
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = (
        spark.range(0, 5000)
        .crossJoin(F.broadcast(bounds))
        .select(F.date_add(F.col("d0"), F.col("id").cast("int")).alias("day"), "d1")
        .filter(F.col("day") <= F.col("d1"))
        .select("day")
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    return (
        days.join(F.broadcast(daily), "day", "left")
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("day")
    )


oracle(
    "calendar_gap_fill",
    """
    WITH bounds AS (
        SELECT CAST(min(o_orderdate) AS DATE) AS d0,
               CAST(max(o_orderdate) AS DATE) AS d1
        FROM orders
    ), days AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ), daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT CAST(days.day AS VARCHAR) AS day,
           coalesce(daily.n_orders, 0) AS n_orders,
           coalesce(daily.revenue, 0.0) AS revenue
    FROM days LEFT JOIN daily ON days.day = daily.day
    ORDER BY day
    """,
)


@query("event_path_trigrams")
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path analysis: the 20 most common 3-step event-type
    sequences. lag/lead windows run inside per-user partitions (one hash
    shuffle on user_id); the trigram count partial-aggregates map-side;
    top-k is TakeOrdered, fully ordered for determinism."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "user_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
    )
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


oracle(
    "event_path_trigrams",
    """
    WITH tri AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER pw AS e2,
               lead(event_type, 2) OVER pw AS e3
        FROM events
        WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
    FROM tri WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
)


@query("window_trending_topk")
def window_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: top-3 event types per 6-hour tumbling window by
    count. Window counts partial-aggregate map-side; the rank runs per
    window (dim-sized partitions). The streaming twin is tumbling_agg +
    per-batch rank in foreachBatch."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    wr = W.partitionBy("w").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type",
            "n",
            "rk",
        )
        .orderBy("win_start", "rk")
    )


oracle(
    "window_trending_topk",
    """
    WITH c AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT win_start, event_type, n,
               row_number() OVER (PARTITION BY win_start
                                  ORDER BY n DESC, event_type) AS rk
        FROM c
    )
    SELECT CAST(win_start AS VARCHAR) AS win_start, event_type, n, rk
    FROM r WHERE rk <= 3 ORDER BY win_start, rk
    """,
)


@query("rolling_time_window")
def rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based (offset) rolling window — pandas rolling('30min', on=ts)
    semantics, which the reference's integer-row windows can't express:
    per-user trailing 30-minute mean/count over event time via a
    rangeBetween window on epoch seconds. One hash shuffle on user_id;
    in-partition ordering is the sort Spark already does for the window."""
    ev = _t(spark, sf_dir, "events")
    # integer-MICROsecond window key: unix_timestamp would truncate to
    # whole seconds while the oracle's epoch() keeps fractions — membership
    # diverges on sub-second-adjacent events (observed at sf0.1)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-1800 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("value").over(w).alias("n_30m"),
        F.round(F.avg("value").over(w), 4).alias("avg_30m"),
    ).orderBy("user_id", "event_id")


oracle(
    "rolling_time_window",
    """
    SELECT user_id, event_id,
           count(value) OVER tw AS n_30m,
           round(avg(value) OVER tw, 4) AS avg_30m
    FROM events
    WINDOW tw AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)


_TS_PATTERN = [0.0, 1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0]


@query("ts_pattern_match")
def ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed subsequence similarity search (the shape of the
    time-series matching literature — e.g. streaming subsequence matching
    systems): find the 20 length-8 windows of per-user event-value series
    closest (squared euclidean) to a broadcast query pattern. The
    sliding window materializes inside per-user window frames (one hash
    shuffle on user_id); the distance is a row-local zip_with; top-k is
    a fully-ordered TakeOrdered — the corpus is never globally sorted."""
    ev = _t(spark, sf_dir, "events")
    m = len(_TS_PATTERN)
    pat = F.array(*[F.lit(x) for x in _TS_PATTERN])
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(m - 1), 0)
    )
    sub = ev.select(
        "user_id",
        "event_id",
        F.collect_list(F.col("value")).over(w).alias("win"),
    ).filter(F.size("win") == m)
    dist = F.aggregate(
        F.zip_with(F.col("win"), pat, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        sub.select("user_id", "event_id", F.round(dist, 4).alias("dist"))
        .orderBy("dist", "user_id", "event_id")
        .limit(20)
    )


oracle(
    "ts_pattern_match",
    """
    WITH sub AS (
        SELECT user_id, event_id,
               array_agg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win
        FROM events
    )
    SELECT user_id, event_id,
           round(list_sum(list_transform(
               list_zip(win, [0.0, 1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 4) AS dist
    FROM sub WHERE len(win) = 8
    ORDER BY dist, user_id, event_id LIMIT 20
    """,
)


@query("fuzzy_join_names")
def fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: deterministically corrupted supplier
    names (4th char dropped) matched back to the catalog by levenshtein
    distance — BLOCKED on the 2-char name prefix so the candidate set is
    per-block, never the full cross product (the standard blocking-key
    discipline that makes fuzzy joins feasible at catalog scale). Best
    match per probe = min (distance, name)."""
    supp = _t(spark, sf_dir, "supplier")
    probes = supp.filter(F.col("s_suppkey") < 10).select(
        F.col("s_suppkey").alias("probe_id"),
        F.concat(
            F.substring("s_name", 1, 3), F.substring("s_name", 5, 100)
        ).alias("corrupt"),
    )
    cands = (
        probes.join(
            supp.select("s_name"),
            F.substring(F.col("corrupt"), 1, 2) == F.substring(F.col("s_name"), 1, 2),
        )
        .select(
            "probe_id",
            "corrupt",
            "s_name",
            F.levenshtein("corrupt", "s_name").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )
    best = cands.groupBy("probe_id").agg(
        F.min(F.struct("dist", "s_name")).alias("b")
    )
    return best.select(
        "probe_id", F.col("b.s_name").alias("matched"), F.col("b.dist").alias("dist")
    ).orderBy("probe_id")


oracle(
    "fuzzy_join_names",
    """
    WITH probes AS (
        SELECT s_suppkey AS probe_id,
               substring(s_name, 1, 3) || substring(s_name, 5) AS corrupt
        FROM supplier WHERE s_suppkey < 10
    ), cands AS (
        SELECT p.probe_id, s.s_name,
               levenshtein(p.corrupt, s.s_name) AS dist
        FROM probes p JOIN supplier s
          ON substring(p.corrupt, 1, 2) = substring(s.s_name, 1, 2)
        WHERE levenshtein(p.corrupt, s.s_name) <= 2
    ), ranked AS (
        SELECT probe_id, s_name, dist,
               row_number() OVER (PARTITION BY probe_id ORDER BY dist, s_name) AS rn
        FROM cands
    )
    SELECT probe_id, s_name AS matched, dist FROM ranked WHERE rn = 1
    ORDER BY probe_id
    """,
)


@query("incremental_agg_merge")
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the standing
    per-(year, priority) revenue table is NOT recomputed from scratch when
    a new batch lands — the batch's partial aggregate (tiny) merges into
    the standing partials by re-aggregating mergeable states (sum of sums,
    sum of counts; avg derived at read time). This query simulates the
    cycle — base partials + delta partials merged — and the oracle is the
    full-recompute answer they must equal. At 100 TB this is the
    difference between scanning one day and scanning the archive."""
    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp")
    keys = [F.year("o_orderdate").alias("o_year"), F.col("o_orderpriority")]

    def partials(df):
        return df.groupBy(*keys).agg(
            F.sum("o_totalprice").alias("rev_sum"),
            F.count(F.lit(1)).alias("rev_n"),
        )

    base = partials(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partials(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_year", "o_orderpriority")
        .agg(F.sum("rev_sum").alias("rev_sum"), F.sum("rev_n").alias("n"))
    )
    return merged.select(
        "o_year",
        "o_orderpriority",
        F.round("rev_sum", 2).alias("revenue"),
        "n",
        F.round(F.col("rev_sum") / F.col("n"), 4).alias("avg_price"),
    ).orderBy("o_year", "o_orderpriority")


oracle(
    "incremental_agg_merge",
    """
    SELECT year(o_orderdate) AS o_year, o_orderpriority,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n,
           round(sum(o_totalprice) / count(*), 4) AS avg_price
    FROM orders GROUP BY 1, 2 ORDER BY o_year, o_orderpriority
    """,
)
