"""Final TPC-H batch: Q2/Q11/Q20 shapes — the three queries whose original
forms center on ``partsupp``, which the synthetic schema omits. The
part↔supplier relationship is derived from ``lineitem`` (who actually
shipped which part, at what realized unit price), which preserves each
query's *plan shape* — the point of the exercise:

- Q2: correlated MIN subquery decorrelated to a per-part aggregate that is
  broadcast back (same decorrelation as Q17), over a region-filtered
  supplier dimension.
- Q11: group-by against a broadcast global scalar (HAVING sum > fraction
  of total) — the scalar is a 1-row cross join, never a re-scan.
- Q20: two nested IN subqueries flattened to semi joins; the inner
  aggregate (per part+supplier shipped quantity) computed once.

With all three, every one of the 22 TPC-H query shapes is registered.

Reference parity: the reference ships TPC-H-style examples over the same
relational surface (``/root/reference/sdc`` examples exercise read_parquet
+ merge + groupby.agg); these plans pin the multi-join/aggregate semantics
at driver-oracle exactness.

Scale notes (100 TB): every dimension side (part, supplier, nation,
region, per-part/per-supplier aggregates) is explicitly broadcast; the
only exchanges are the per-(part,supplier) partial aggregations of
lineitem — map-side-combined hash aggregates on 8-byte keys. No
sort-merge join, no window over an unpartitioned set, no correlated
re-scan anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


@query("q2_min_cost_supplier")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each SMALL-type part of one size band, the
    EUROPE supplier offering the minimum realized unit price (unit price
    derived from lineitem — the schema has no partsupp). The correlated
    ``price = (SELECT min ...)`` is decorrelated into a per-part min that
    joins back broadcast, exactly like the classic Q2 rewrite."""
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "SMALL") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_name", "p_brand")
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    # Realized unit price per (part, supplier), restricted to the part slice
    # and EU suppliers BEFORE the aggregate — predicate reaches the scan.
    offers = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(eu_supp.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(F.sum("l_extendedprice") / F.sum("l_quantity"), 4).alias("unit_cost")
        )
    )
    min_cost = (
        offers.groupBy("l_partkey")
        .agg(F.min("unit_cost").alias("__min_cost__"))
        .withColumnRenamed("l_partkey", "__mc_partkey__")
    )
    return (
        offers.join(
            F.broadcast(min_cost),
            (offers.l_partkey == F.col("__mc_partkey__"))
            & (offers.unit_cost == F.col("__min_cost__")),
        )
        .drop("__mc_partkey__", "__min_cost__")
        .join(F.broadcast(part), offers.l_partkey == part.p_partkey)
        .join(F.broadcast(eu_supp), offers.l_suppkey == F.col("s_suppkey"))
        .select(
            F.col("s_acctbal"),
            F.col("s_name"),
            F.col("n_name"),
            F.col("p_partkey"),
            F.col("p_brand"),
            F.col("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


oracle(
    "q2_min_cost_supplier",
    """
    WITH pslice AS (
        SELECT p_partkey, p_name, p_brand FROM part
        WHERE p_type = 'SMALL' AND p_size <= 10
    ), eu_supp AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ), offers AS (
        SELECT l.l_partkey, l.l_suppkey,
               round(sum(l.l_extendedprice) / sum(l.l_quantity), 4) AS unit_cost
        FROM lineitem l
        JOIN pslice p ON l.l_partkey = p.p_partkey
        JOIN eu_supp s ON l.l_suppkey = s.s_suppkey
        GROUP BY l.l_partkey, l.l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, s.n_name, p.p_partkey, p.p_brand, o.unit_cost
    FROM offers o
    JOIN pslice p ON o.l_partkey = p.p_partkey
    JOIN eu_supp s ON o.l_suppkey = s.s_suppkey
    WHERE o.unit_cost = (
        SELECT min(o2.unit_cost) FROM offers o2 WHERE o2.l_partkey = o.l_partkey
    )
    ORDER BY s.s_acctbal DESC, s.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)


@query("q11_important_stock")
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from one nation's
    suppliers exceeds a fixed fraction of that nation's total shipped
    value. The global total is ONE broadcast row (cross join), not a
    correlated re-scan; HAVING runs on the already-aggregated rows."""
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_supp = supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey).select(
        "s_suppkey"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    nat_lines = li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"))
    per_part = nat_lines.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias("part_value")
    )
    total = per_part.agg(
        (F.sum("part_value") * F.lit(0.001)).alias("__thresh__")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("__thresh__"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


oracle(
    "q11_important_stock",
    """
    WITH nat_supp AS (
        SELECT s_suppkey FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_7'
    ), per_part AS (
        SELECT l.l_partkey,
               round(sum(l.l_extendedprice * l.l_quantity), 2) AS part_value
        FROM lineitem l JOIN nat_supp s ON l.l_suppkey = s.s_suppkey
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, part_value
    FROM per_part
    WHERE part_value > (SELECT sum(part_value) * 0.001 FROM per_part)
    ORDER BY part_value DESC, l_partkey
    """,
)


@query("q20_part_promotion")
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who shipped a substantial
    quantity of PROMO-type parts in one year. The original's nested
    ``IN (… IN (…))`` flattens to two semi joins over a per-(supplier,part)
    aggregate computed once; supplier and nation dims broadcast."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    # Suppliers with at least one promo part shipped above the threshold.
    heavy_supp = (
        shipped.filter(F.col("qty") > 30).select("l_suppkey").distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(
            F.broadcast(heavy_supp), supp.s_suppkey == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


oracle(
    "q20_part_promotion",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
          AND l.l_shipdate >= TIMESTAMP '1998-01-01'
          AND l.l_shipdate < TIMESTAMP '1999-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING sum(l.l_quantity) > 30
      )
    ORDER BY s.s_suppkey
    """,
)
