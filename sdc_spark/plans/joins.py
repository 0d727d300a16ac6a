"""Join coverage: SURVEY.md §2.3.

``pd.merge`` in the reference survives only as legacy-skipped tests
(/root/reference/sdc/tests/test_join.py:52-414); the live engine's only join
is the index-alignment sort-merge join used by Series binops
(sdc/datatypes/common_functions.py:225-456). Here the whole family is native
Catalyst joins: dimension sides below the autoBroadcastJoinThreshold go
broadcast (no shuffle); fact-fact joins go sort-merge with AQE skew
splitting. merge_asof is the union+carry-forward plan in
sdc_spark.operators.asof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.operators.asof import merge_asof
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table, read_table as _t


@query("join_inner_broadcast")
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join fact→dim (ref test_join.py:52-120 semantics). customer and
    nation are dims: Catalyst broadcasts them — zero shuffle of orders."""
    ord_ = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        ord_.join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey, "inner")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


oracle(
    "join_inner_broadcast",
    """
    SELECT n_name, round(sum(o_totalprice), 4) AS revenue, count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)


@query("join_left_outer")
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """how='left': unmatched left rows keep NULL right payload."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    agg = big.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_big"), F.round(F.sum("o_totalprice"), 4).alias("big_total")
    )
    return cust.select("c_custkey", "c_mktsegment").join(
        agg, cust.c_custkey == agg.o_custkey, "left"
    ).select("c_custkey", "c_mktsegment", "n_big", "big_total")


oracle(
    "join_left_outer",
    """
    SELECT c_custkey, c_mktsegment, n_big, big_total
    FROM customer
    LEFT JOIN (
        SELECT o_custkey, count(*) AS n_big, round(sum(o_totalprice), 4) AS big_total
        FROM orders WHERE o_totalprice > 400000.0 GROUP BY o_custkey
    ) b ON c_custkey = o_custkey
    """,
)


@query("join_full_outer")
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """how='outer' — the index-alignment primitive of the reference
    (sdc/datatypes/common_functions.py:225-456 is exactly a full outer join
    on the index)."""
    high = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_open"))
    )
    done = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_done"))
    )
    return (
        high.withColumnRenamed("o_custkey", "custkey")
        .join(done.withColumnRenamed("o_custkey", "custkey2"),
              F.col("custkey") == F.col("custkey2"), "full")
        .select(
            F.coalesce("custkey", "custkey2").alias("custkey"),
            "n_open",
            "n_done",
        )
    )


oracle(
    "join_full_outer",
    """
    SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey, n_open, n_done
    FROM (SELECT o_custkey, count(*) AS n_open FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
    FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_done FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
    ON a.o_custkey = b.o_custkey
    """,
)


@query("join_multikey")
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key equi-join (ref test_join.py multi-key cases): lineitem
    joined back to per-(partkey, suppkey) aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.round(F.avg("l_quantity"), 4).alias("avg_qty_ps"))
    return (
        li.join(
            ps,
            (li.l_partkey == ps.partkey) & (li.l_suppkey == ps.suppkey),
            "inner",
        )
        .filter(F.col("l_quantity") > F.col("avg_qty_ps") * 1.5)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "avg_qty_ps")
    )


oracle(
    "join_multikey",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, avg_qty_ps
    FROM lineitem
    JOIN (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               round(avg(l_quantity), 4) AS avg_qty_ps
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ) ps ON l_partkey = partkey AND l_suppkey = suppkey
    WHERE l_quantity > avg_qty_ps * 1.5
    """,
)


@query("join_semi_anti")
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) + left_anti (NOT EXISTS) — absent in the reference,
    free in Spark (SURVEY §2.3). Customers with open orders but no
    finished ones."""
    cust = _t(spark, sf_dir, "customer")
    open_o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    done_o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        cust.join(open_o, cust.c_custkey == open_o.o_custkey, "left_semi")
        .join(done_o, cust.c_custkey == done_o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


oracle(
    "join_semi_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)


@query("merge_asof_backward")
def merge_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.merge_asof (ref test_join.py:238-263): each order picks up the
    cumulative shipping stats of the most recent ship-date <= its order date.
    Implemented as the union+carry-forward plan (operators/asof.py)."""
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
    )
    return out.select("o_orderkey", F.col("ts").alias("o_orderdate"), "day_qty")


oracle(
    "merge_asof_backward",
    """
    SELECT o_orderkey, o_orderdate, day_qty
    FROM (SELECT o_orderkey, o_orderdate FROM orders) o
    ASOF LEFT JOIN (
        SELECT l_shipdate AS ship_ts, round(sum(l_quantity), 4) AS day_qty
        FROM lineitem GROUP BY l_shipdate
    ) d ON d.ship_ts <= o.o_orderdate
    """,
)


@query("join_salted_skew")
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-dim join (operators/skew.py): the fact side's
    hot supplier keys are spread over 8 deterministic salts, the dim side
    replicated 8x. The oracle is the PLAIN join — salting must be
    semantics-preserving. At 100 TB this is the fallback when AQE's
    skew splitting can't apply (broadcast-infeasible dim, sort-merge-only
    skew on a power-law key)."""
    from sdc_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    supp = read_table(spark, sf_dir, "supplier").withColumnRenamed(
        "s_suppkey", "l_suppkey"
    )
    j = salted_join(
        li, supp, on="l_suppkey", salt=8,
        fact_unique=["l_orderkey", "l_linenumber"],
    )
    return (
        j.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "price_cents"
            ),
        )
        .orderBy("s_nationkey")
    )


oracle(
    "join_salted_skew",
    """
    SELECT s.s_nationkey, count(*) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey ORDER BY s.s_nationkey
    """,
)


@query("join_aqe_skew")
def join_aqe_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AQE twin of join_salted_skew (operators/skew.py:aqe_skew_join):
    same hot-supplier-key fact-dim join, but the sort-merge path is
    pinned and Spark's runtime skew splitting (OptimizeSkewedJoin,
    enabled in the session) handles any oversized partition — no salt
    guess, zero added cost when unskewed. Same plain-join oracle:
    whichever mitigation runs, the answer must not move. The
    split-actually-fires evidence is plan-pinned in
    tests/test_plan_shapes.py (thresholds lowered there so the split
    triggers at test scale); when manual salting still wins is
    documented on the operator + SCALING.md."""
    from sdc_spark.operators.skew import aqe_skew_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    supp = read_table(spark, sf_dir, "supplier").withColumnRenamed(
        "s_suppkey", "l_suppkey"
    )
    j = aqe_skew_join(li, supp, on="l_suppkey")
    return (
        j.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "price_cents"
            ),
        )
        .orderBy("s_nationkey")
    )


oracle(
    "join_aqe_skew",
    """
    SELECT s.s_nationkey, count(*) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey ORDER BY s.s_nationkey
    """,
)


@query("join_runtime_bloom")
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pushdown, graded end-to-end — the other
    100-TB join lever next to AQE skew split. The dim side (orders
    under a selective price predicate) is too large to broadcast at
    fleet scale, so the join is sort-merge — and Catalyst's
    InjectRuntimeFilter builds a bloom_filter_agg over the filtered dim
    keys whose might_contain() prunes the FACT side before its shuffle:
    only probably-matching lineitem rows cross the wire. Thresholds are
    set query-local so the filter also fires at test scale (broadcast
    disabled to mimic the fleet-scale plan; a 2%-selective orders side
    at 100 TB is far beyond any broadcast threshold); semantics are
    conf-independent — the oracle is the plain join. The
    bloom_filter_agg + might_contain plan shape is pinned in
    tests/test_plan_shapes.py."""
    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            conf.set(k, v)
        li = _t(spark, sf_dir, "lineitem")
        orders = _t(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        out = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(
                    F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                    .cast("long")
                ).alias("revenue_cents"),
            )
            .orderBy("o_orderstatus")
        )
        # the Dataset caches one QueryExecution: forcing executedPlan here
        # pins the bloom-filtered SMJ under the tuned confs even though
        # the caller collects after the finally restores them
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


oracle(
    "join_runtime_bloom",
    """
    SELECT o_orderstatus, count(*) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
