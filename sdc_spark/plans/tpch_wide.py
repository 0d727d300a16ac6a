"""Third batch of TPC-H-shaped plans (Q8/Q9/Q12/Q13/Q15/Q17/Q22 shapes,
adapted to the driver's synthetic schema: no partsupp/l_shipmode/c_phone,
so Q9 profit omits supplycost, Q12 classes ship-lateness instead of ship
mode, and Q22's country code is derived from c_custkey).

Scale notes (the shapes these queries pin down):
- Q8/Q9: star joins — every dimension side broadcast, ONE shuffle of fact
  rows (final group-by). No sort-merge joins anywhere.
- Q13: the one legitimately shuffling join (customer x orders are both
  "fact-sized"), then a two-level aggregation whose second level runs on
  per-customer counts — tiny.
- Q15: revenue per supplier computed once, max picked via a 1-row
  broadcast scalar join (no window over the whole table, no second scan
  of lineitem).
- Q17: per-part averages broadcast back against the filtered brand slice
  only — the classic correlated-subquery decorrelation.
- Q22: scalar subquery (avg acctbal) broadcast + left-anti join against
  orders; anti side shuffles only custkeys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


@query("q8_market_share")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: volume share of one supplier-nation inside one
    region's market per order year. lineitem joins 5 broadcast dims; the
    only data shuffle is the final per-year aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cnat = nat.alias("cn")
    snat = nat.alias("sn")
    vol = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    ).alias("volume")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cnat), cust.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(reg), F.col("cn.n_regionkey") == reg.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(snat), supp.s_nationkey == F.col("sn.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol,
            F.col("sn.n_name").alias("supp_nation"),
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_9", F.col("volume")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum("volume"),
                6,
            ).alias("mkt_share"),
            (F.sum("volume") / 100.0).alias("total_volume"),
        )
        .orderBy("o_year")
    )


oracle(
    "q8_market_share",
    """
    WITH j AS (
        SELECT year(o.o_orderdate) AS o_year,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                 AS volume,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_9' THEN volume ELSE 0 END)
                      AS DOUBLE) / sum(volume), 6) AS mkt_share,
           sum(volume) / 100.0 AS total_volume
    FROM j GROUP BY o_year ORDER BY o_year
    """,
)


@query("q9_nation_profit")
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp in the schema, so profit omits
    supplycost): revenue by supplier nation and order year for parts whose
    name carries a marker substring. Dims broadcast; one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("a"))
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    # per-line rounding to integer cents is deterministic in both engines;
    # a sum of longs is exact and order-independent — no half-cent flakes
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    ).alias("cents")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"), cents)
        .groupBy("nation", "o_year")
        .agg((F.sum("cents") / 100.0).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


oracle(
    "q9_nation_profit",
    """
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
             / 100.0 AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%a%'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)


@query("q12_late_lines")
def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (lateness classes instead of ship modes): per
    line-status, how many high- vs low-priority orders shipped >90 days
    after ordering. CASE aggregates fold into one partial agg."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


oracle(
    "q12_late_lines",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)


@query("q13_order_distribution")
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    including zero-order customers (left join). Two-level aggregation:
    level 1 shuffles custkeys, level 2 runs over distinct counts — tiny."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


oracle(
    "q13_order_distribution",
    """
    WITH per_cust AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)


@query("q15_top_supplier")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum quarterly revenue. The
    per-supplier revenue table is computed ONCE; the max is a 1-row
    broadcast scalar join against it (no second lineitem scan, no global
    window)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx__"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("__mx__"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


oracle(
    "q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
)


@query("q17_small_quantity")
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's average) were dropped, for one brand.
    Decorrelated: per-part averages computed over the brand slice and
    broadcast back — no correlated re-scan per row."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand_lines = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_q = brand_lines.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("__thresh__")
    )
    return (
        brand_lines.join(F.broadcast(avg_q), "l_partkey")
        .filter(F.col("l_quantity") < F.col("__thresh__"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


oracle(
    "q17_small_quantity",
    """
    WITH brand_lines AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#1'
    ), th AS (
        SELECT l_partkey, 0.2 * avg(l_quantity) AS thresh
        FROM brand_lines GROUP BY l_partkey
    )
    SELECT round(sum(b.l_extendedprice) / 7.0, 4) AS avg_yearly,
           count(*) AS n_lines
    FROM brand_lines b JOIN th ON b.l_partkey = th.l_partkey
    WHERE b.l_quantity < th.thresh
    """,
)


@query("q22_global_sales_opportunity")
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (country code derived from custkey — the schema has
    no phone column): wealthy customers (above-average balance) in a code
    group who never ordered. Scalar avg broadcast; anti join shuffles only
    custkeys."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_custkey") % 7).cast("int")
    )
    grp = cust.filter(F.col("cntrycode").isin(1, 2, 3))
    avg_bal = grp.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg__")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        grp.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg__"))
        .join(orders, grp.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


oracle(
    "q22_global_sales_opportunity",
    """
    WITH grp AS (
        SELECT c_custkey, c_acctbal, CAST(c_custkey % 7 AS INT) AS cntrycode
        FROM customer WHERE CAST(c_custkey % 7 AS INT) IN (1, 2, 3)
    )
    SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM grp g
    WHERE g.c_acctbal > (SELECT avg(c_acctbal) FROM grp WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = g.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode ORDER BY cntrycode
    """,
)


@query("q16_supplier_variety")
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier linkage via lineitem — the schema has no
    partsupp): how many distinct suppliers ship each (brand, size) class,
    excluding one brand and low-balance suppliers (anti-join). The
    distinct-agg shuffles (brand, size, suppkey) triples once."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#3")
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


oracle(
    "q16_supplier_variety",
    """
    SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand <> 'Brand#3'
    WHERE l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
    )
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """,
)


@query("q21_waiting_supplier")
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (lateness from ship-vs-order dates — no
    commit/receipt dates in the schema): suppliers in one nation who were
    the ONLY late shipper in a multi-supplier order. EXISTS (another
    supplier in the order) + NOT EXISTS (another LATE supplier) become two
    aggregated semi-join sides computed from ONE scan of the order-line
    pairs."""
    ord_ = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    pairs = li.join(
        ord_.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "late"
        ),
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    return (
        pairs.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), pairs.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


oracle(
    "q21_waiting_supplier",
    """
    WITH pairs AS (
        SELECT l.l_orderkey, l.l_suppkey,
               l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'
    ), per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        FROM pairs GROUP BY l_orderkey
    )
    SELECT s.s_name, count(DISTINCT p.l_orderkey) AS numwait
    FROM pairs p
    JOIN per_order po ON p.l_orderkey = po.l_orderkey
    JOIN supplier s ON p.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_9'
    WHERE p.late AND po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
