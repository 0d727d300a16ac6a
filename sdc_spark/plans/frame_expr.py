"""Round-5 frame-expression surface queries: the quote-safe query()/eval()
string translator, pandas-exact positional take (request order, duplicate
positions, negative indices), and order-aware scans over a sorted frame
(cumsum computed in the CURRENT row order, as pandas does after
sort_values).

All three run through the production frame API (frame/core.py), not
hand-written DataFrame code, so the driver's oracle gate exercises the
same paths users hit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.frame.core import IDX, SparkFrame
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import local_rows, read_table


def _uniq_lineitem(li, *cols):
    """lineitem restricted to rows whose (orderkey, linenumber)-derived uid
    appears EXACTLY once: the synthetic generator emits duplicate keys, so
    any per-row uid join or uid-tie-broken scan must run on the unique
    subset to stay deterministic.

    Shape: groupBy-count + left-semi join, NOT a per-uid window. The
    groupBy shuffles only 8-byte uids after map-side partial counts (the
    window form shuffles every payload column), and AQE converts the
    semi join to broadcast when the unique-uid list is small enough —
    at 100 TB it degrades gracefully to a shuffled semi join on the
    same key partitioning."""
    uid = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    base = li.select(uid.alias("uid"), *cols)
    once = (
        base.groupBy("uid")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") == 1)
        .select("uid")
    )
    return base.join(once, "uid", "left_semi")



@query("frame_query_eval")
def frame_query_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.query + df.eval from expression strings (ref: the reference has
    no query/eval — this is the pandas-parity extension): a pandas-syntax
    predicate with an in-list, `&`, `~` and a quoted literal compiles to a
    Catalyst filter (pushdown-eligible), then an eval() assignment adds a
    computed bucket column. The translator rewrites operators only OUTSIDE
    quoted regions, so the 'src0' literal survives."""
    doc = read_table(spark, sf_dir, "documents")
    sf = SparkFrame(
        doc.select(
            F.col("doc_id").alias(IDX), "lang", "source", "n_chars"
        )
    )
    out = (
        sf.query("lang in ['en', 'de'] & (n_chars > 500) & ~(source == 'src0')")
        .eval("bucket = n_chars - n_chars % 100")
    )
    return (
        out._df.groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "bucket")
    )


oracle(
    "frame_query_eval",
    """
    SELECT lang, n_chars - n_chars % 100 AS bucket, count(*) AS n
    FROM documents
    WHERE lang IN ('en', 'de') AND n_chars > 500 AND NOT (source = 'src0')
    GROUP BY lang, bucket
    ORDER BY lang, bucket
    """,
)


@query("frame_take_positions")
def frame_take_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas df.take over a sorted frame: positions resolve in the
    CURRENT (sorted) row order, the result preserves the REQUESTED order
    including a duplicated position, and a negative index resolves against
    len(df). The request list is broadcast against distributed positions —
    the data is never collected."""
    cust = read_table(spark, sf_dir, "customer")
    sf = SparkFrame(
        cust.select(
            F.col("c_custkey").alias(IDX),
            F.col("c_custkey").alias("custkey"),
            "c_name",
            "c_acctbal",
        )
    )
    got = sf.sort_values(["c_acctbal", "custkey"], ascending=[False, True]).take(
        [0, 5, 5, -1]
    )
    return got._df.select(
        F.col("__ord__").alias("rk"),
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_e2"),
    ).orderBy("rk")


oracle(
    "frame_take_positions",
    """
    WITH ranked AS (
        SELECT c_name, c_acctbal,
               row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) - 1 AS pos
        FROM customer
    ), req AS (
        SELECT 0 AS rk, 0 AS pos
        UNION ALL SELECT 1, 5
        UNION ALL SELECT 2, 5
        UNION ALL SELECT 3, (SELECT count(*) FROM customer) - 1
    )
    SELECT req.rk, ranked.c_name,
           CAST(round(ranked.c_acctbal * 100) AS BIGINT) AS acctbal_e2
    FROM ranked JOIN req USING (pos)
    ORDER BY req.rk
    """,
)


@query("frame_sorted_cumsum")
def frame_sorted_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort_values(...).cumsum(): the scan runs in the SORTED row order
    (pandas semantics — the carried __ord__ rank is the scan key), not the
    original index order. Integer quantities keep the running sum exact.
    One range partition + one P-row prior broadcast for the whole frame
    (operators/order.scan)."""
    li = read_table(spark, sf_dir, "lineitem")
    base = _uniq_lineitem(
        li, "l_extendedprice", F.col("l_quantity").cast("long").alias("qty")
    )
    sf = SparkFrame(
        base.select(
            F.col("uid").alias(IDX), "uid", "l_extendedprice", "qty"
        )
    )
    out = sf.sort_values(["l_extendedprice", "uid"]).cumsum()
    return out._df.select(
        F.col(IDX).alias("uid"), F.col("qty").alias("run_qty")
    ).orderBy("uid")


oracle(
    "frame_sorted_cumsum",
    """
    WITH uniq AS (
        SELECT l_orderkey * 10 + l_linenumber AS uid,
               l_extendedprice, l_quantity
        FROM lineitem
        QUALIFY count(*) OVER (PARTITION BY l_orderkey * 10 + l_linenumber) = 1
    )
    SELECT uid,
           CASE WHEN l_quantity IS NULL THEN NULL ELSE
               CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
                   ORDER BY l_extendedprice NULLS LAST, uid
                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
           END AS run_qty
    FROM uniq
    ORDER BY uid
    """,
)


@query("agg_corr_spearman")
def agg_corr_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.corr(method='spearman'): pearson over average ranks, both
    ranks computed with the distributed rank machinery (with_position +
    per-value aggregate — two hash shuffles per side, no global window).
    Scalar result re-wrapped as fixed-point (1e-6) so the oracle compare
    is integer-exact."""
    from sdc_spark.frame.series import VAL, SparkSeries

    li = read_table(spark, sf_dir, "lineitem")
    base = _uniq_lineitem(li, "l_quantity", "l_extendedprice").select(
        F.col("uid").alias(IDX), "l_quantity", "l_extendedprice"
    )
    x = SparkSeries(base.select(IDX, F.col("l_quantity").alias(VAL)))
    y = SparkSeries(base.select(IDX, F.col("l_extendedprice").alias(VAL)))
    rho = x.corr(y, method="spearman")
    return local_rows(
        spark, [(int(round(rho * 1_000_000)),)], "rho_e6 bigint"
    )


oracle(
    "agg_corr_spearman",
    """
    WITH uniq AS (
        SELECT l_orderkey * 10 + l_linenumber AS uid,
               l_quantity, l_extendedprice
        FROM lineitem
        QUALIFY count(*) OVER (PARTITION BY l_orderkey * 10 + l_linenumber) = 1
    ), pairs AS (
        SELECT l_quantity AS a, l_extendedprice AS b, uid
        FROM uniq
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), rn AS (
        SELECT a, b,
               row_number() OVER (ORDER BY a, uid) AS ra,
               row_number() OVER (ORDER BY b, uid) AS rb
        FROM pairs
    ), avg_ranks AS (
        SELECT avg(ra) OVER (PARTITION BY a) AS ra,
               avg(rb) OVER (PARTITION BY b) AS rb
        FROM rn
    )
    SELECT CAST(round(corr(ra, rb) * 1000000) AS BIGINT) AS rho_e6
    FROM avg_ranks
    """,
)


@query("series_conversions")
def series_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.to_datetime / pd.to_numeric round-trip (ref cites both as the
    astype siblings, …series_functions.py:1855-1868): ship dates formatted
    to dd/MM/yyyy strings then parsed back with a strftime format;
    quantities stringified then re-parsed. try_to_timestamp / try_cast —
    codegen casts, zero Python in the row path.

    The _uniq_lineitem join output feeds THREE consumers here
    (to_datetime's eager raise-validation probe plus both sides of the
    final index-alignment join), so it is materialized once — without
    this the semi-join lineage re-executes per consumer (the round-6
    3.1x bench regression)."""
    from sdc_spark.frame.series import VAL, SparkSeries
    from sdc_spark.functions.conversion import to_datetime, to_numeric
    from sdc_spark.materialize import materialize

    li = read_table(spark, sf_dir, "lineitem")
    base = materialize(
        _uniq_lineitem(
            li,
            F.date_format("l_shipdate", "dd/MM/yyyy HH:mm:ss").alias("dstr"),
            F.col("l_quantity").cast("string").alias("qstr"),
        ).withColumnRenamed("uid", IDX)
    )
    d = to_datetime(
        SparkSeries(base.select(IDX, F.col("dstr").alias(VAL))),
        format="%d/%m/%Y %H:%M:%S",
    )
    n = to_numeric(
        SparkSeries(base.select(IDX, F.col("qstr").alias(VAL))),
        errors="coerce",
    )
    return (
        d._df.select(IDX, F.col(VAL).alias("ship_ts"))
        .join(n._df.select(IDX, F.col(VAL).alias("qty")), IDX)
        .select(F.col(IDX).alias("uid"), "ship_ts", "qty")
        .orderBy("uid")
    )


oracle(
    "series_conversions",
    """
    WITH uniq AS (
        SELECT l_orderkey * 10 + l_linenumber AS uid,
               l_shipdate, l_quantity
        FROM lineitem
        QUALIFY count(*) OVER (PARTITION BY l_orderkey * 10 + l_linenumber) = 1
    )
    SELECT uid,
           strptime(strftime(l_shipdate, '%d/%m/%Y %H:%M:%S'),
                    '%d/%m/%Y %H:%M:%S') AS ship_ts,
           CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty
    FROM uniq
    ORDER BY uid
    """,
)
