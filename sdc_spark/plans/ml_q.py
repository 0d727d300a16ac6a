r"""ML-parity queries (reference surface: `sdc/tests/test_ml.py` — linear
regression, logistic regression, KDE, k-means; daal4py glue `test_d4p.py`).

Every closed-form/fixed-iteration kernel is SQL-oracle-able and oracled —
including the 3-iteration logistic gradient descent (chained CTEs, one per
iteration) and the 3×3 normal-equation solve (Cramer's rule in SQL).
k-means keeps its xxhash64 seeding (not replicable in DuckDB) → rows-only
plus property tests in tests/test_ml_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.operators.ml import kde_log_density, kmeans_fit, linreg_fit, logreg_fit_gd
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import local_rows, read_table, read_table as _t


@query("ml_linreg_group")
def ml_linreg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS via the built-in regression aggregates
    (slope/intercept/r² of extendedprice ~ quantity per returnflag) —
    sufficient statistics only, one map-side-combined pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
                "intercept"
            ),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.regr_count("l_extendedprice", "l_quantity").alias("n"),
        )
        .orderBy("l_returnflag")
    )


oracle(
    "ml_linreg_group",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           regr_count(l_extendedprice, l_quantity) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)


@query("ml_linreg_multi")
def ml_linreg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple OLS (intercept + quantity + discount → extendedprice) by
    normal equations: X'X/X'y are 9 sums in one distributed pass; the 3×3
    solve is driver-side scalars. Oracle replays the same closed form via
    Cramer's rule in SQL."""
    li = _t(spark, sf_dir, "lineitem")
    w = linreg_fit(li, ["l_quantity", "l_discount"], "l_extendedprice")
    return local_rows(
        spark,
        [(round(w[0], 4), round(w[1], 4), round(w[2], 4))],
        "b_intercept double, b_quantity double, b_discount double",
    )


oracle(
    "ml_linreg_multi",
    """
    WITH s AS (
        SELECT count(*)::DOUBLE AS n,
               sum(l_quantity) AS sq, sum(l_discount) AS sd,
               sum(l_quantity * l_quantity) AS sqq,
               sum(l_quantity * l_discount) AS sqd,
               sum(l_discount * l_discount) AS sdd,
               sum(l_extendedprice) AS sy,
               sum(l_quantity * l_extendedprice) AS sqy,
               sum(l_discount * l_extendedprice) AS sdy
        FROM lineitem
    ), m AS (
        -- det of [[n,sq,sd],[sq,sqq,sqd],[sd,sqd,sdd]] and Cramer numerators
        SELECT
            n*(sqq*sdd - sqd*sqd) - sq*(sq*sdd - sqd*sd) + sd*(sq*sqd - sqq*sd) AS det,
            sy*(sqq*sdd - sqd*sqd) - sq*(sqy*sdd - sqd*sdy) + sd*(sqy*sqd - sqq*sdy) AS det0,
            n*(sqy*sdd - sdy*sqd) - sy*(sq*sdd - sqd*sd) + sd*(sq*sdy - sqy*sd) AS det1,
            n*(sqq*sdy - sqd*sqy) - sq*(sq*sdy - sqy*sd) + sy*(sq*sqd - sqq*sd) AS det2
        FROM s
    )
    SELECT round(det0 / det, 4) AS b_intercept,
           round(det1 / det, 4) AS b_quantity,
           round(det2 / det, 4) AS b_discount
    FROM m
    """,
)


_KDE_POINTS = [-1.0, 2.0, 5.0]


@query("ml_kde")
def ml_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian-kernel log-density of events.value at 3 fixed points —
    logsumexp as a row-local array expression, one aggregate."""
    ev = _t(spark, sf_dir, "events")
    return kde_log_density(ev, "value", _KDE_POINTS, bandwidth=0.5)


oracle(
    "ml_kde",
    """
    WITH d AS (
        SELECT list_transform([-1.0, 2.0, 5.0],
                              p -> -((value - p) * (value - p)) / (2.0 * 0.25)) AS ds
        FROM events
    ), lse AS (
        SELECT list_aggregate(ds, 'max')
               - ln(0.5 * 3)
               + ln(list_sum(list_transform(ds,
                     v -> exp(v - list_aggregate(ds, 'max'))))) AS v
        FROM d
    )
    SELECT round(sum(v), 4) AS kde_log_density FROM lse
    """,
)


@query("ml_logreg_gd")
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration full-batch logistic gradient descent (the reference's
    exact loop shape): features (quantity, discount) scaled to O(1),
    label ±1 by returnflag. One aggregate per iteration, weights folded
    into the plan as literals. The oracle chains one CTE per iteration."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") / F.lit(50.0)).alias("x1"),
        F.col("l_discount").alias("x2"),
        F.when(F.col("l_returnflag") == "R", F.lit(1.0)).otherwise(F.lit(-1.0)).alias(
            "y"
        ),
    )
    w = logreg_fit_gd(li, ["x1", "x2"], "y", iterations=3, lr=0.001, init=0.5)
    return local_rows(
        spark, [(round(w[0], 4), round(w[1], 4))], "w_x1 double, w_x2 double"
    )


oracle(
    "ml_logreg_gd",
    """
    WITH pts AS (
        SELECT l_quantity / 50.0 AS x1, l_discount AS x2,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE -1.0 END AS y
        FROM lineitem
    ), w0 AS (
        SELECT 0.5 AS w1, 0.5 AS w2
    ), w1 AS (
        SELECT w0.w1 - 0.001 * sum((1.0/(1.0 + exp(-(y*(w0.w1*x1 + w0.w2*x2)))) - 1.0) * y * x1) AS w1,
               w0.w2 - 0.001 * sum((1.0/(1.0 + exp(-(y*(w0.w1*x1 + w0.w2*x2)))) - 1.0) * y * x2) AS w2
        FROM pts, w0 GROUP BY w0.w1, w0.w2
    ), w2 AS (
        SELECT w1.w1 - 0.001 * sum((1.0/(1.0 + exp(-(y*(w1.w1*x1 + w1.w2*x2)))) - 1.0) * y * x1) AS w1,
               w1.w2 - 0.001 * sum((1.0/(1.0 + exp(-(y*(w1.w1*x1 + w1.w2*x2)))) - 1.0) * y * x2) AS w2
        FROM pts, w1 GROUP BY w1.w1, w1.w2
    ), w3 AS (
        SELECT w2.w1 - 0.001 * sum((1.0/(1.0 + exp(-(y*(w2.w1*x1 + w2.w2*x2)))) - 1.0) * y * x1) AS w1,
               w2.w2 - 0.001 * sum((1.0/(1.0 + exp(-(y*(w2.w1*x1 + w2.w2*x2)))) - 1.0) * y * x2) AS w2
        FROM pts, w2 GROUP BY w2.w1, w2.w2
    )
    SELECT round(w1, 4) AS w_x1, round(w2, 4) AS w_x2 FROM w3
    """,
)


@query("ml_kmeans")
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means on (quantity, discount, tax):
    xxhash64-seeded centers, broadcast-assign + hash-aggregate recompute
    per round. Center coordinates are engine-specific (seed hash), so
    the GRADED surface is a per-center audit (the `agg_approx_sketch`
    pattern): every center must lie inside the data's per-dimension
    bounding box — seeds are data points and every Lloyd update is a
    mean of data points, so this is deterministic-true — with k rows
    anchoring the exact center count. Convergence/determinism pinned by
    the property tests."""
    li = _t(spark, sf_dir, "lineitem")
    centers = kmeans_fit(
        li, ["l_quantity", "l_discount", "l_tax"], k=4, iterations=5
    )
    bounds = li.agg(
        F.min("l_quantity").alias("qlo"), F.max("l_quantity").alias("qhi"),
        F.min("l_discount").alias("dlo"), F.max("l_discount").alias("dhi"),
        F.min("l_tax").alias("tlo"), F.max("l_tax").alias("thi"),
    )
    return (
        centers.crossJoin(bounds)
        .select(
            F.col("center_id").cast("int").alias("center_id"),
            F.col("c_l_quantity").between(F.col("qlo"), F.col("qhi")).alias(
                "quantity_in_bounds"
            ),
            F.col("c_l_discount").between(F.col("dlo"), F.col("dhi")).alias(
                "discount_in_bounds"
            ),
            F.col("c_l_tax").between(F.col("tlo"), F.col("thi")).alias(
                "tax_in_bounds"
            ),
        )
        .orderBy("center_id")
    )


oracle(
    "ml_kmeans",
    """
    SELECT CAST(range AS INT) AS center_id,
           TRUE AS quantity_in_bounds,
           TRUE AS discount_in_bounds,
           TRUE AS tax_in_bounds
    FROM range(4) ORDER BY center_id
    """,
)


@query("embedding_covariance")
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle bridge for the distributed PCA front half: sample
    covariances of embedding dims (0..3 pairs) computed through the
    mapInPandas Gram-partial machinery (operators/ml.gram_partials — one
    pass, P tiny partials) must equal DuckDB's covar_samp on the same
    elements. Proves the sufficient-statistics path is exact, so the
    eigen step downstream inherits a verified covariance."""
    from sdc_spark.operators.ml import covariance_matrix

    emb = read_table(spark, sf_dir, "embeddings")
    _, cov, _ = covariance_matrix(emb, "embedding", 64)
    rows = [
        (i, j, round(float(cov[i, j]), 6)) for i in range(4) for j in range(i, 4)
    ]
    return local_rows(spark, rows, "i int, j int, cov double").orderBy("i", "j")


oracle(
    "embedding_covariance",
    """
    WITH pairs AS (
        SELECT i.i, j.j FROM range(0, 4) i(i) CROSS JOIN range(0, 4) j(j)
        WHERE j.j >= i.i
    )
    SELECT p.i::INT AS i, p.j::INT AS j,
           round(covar_samp(e.embedding[p.i + 1], e.embedding[p.j + 1]), 6) AS cov
    FROM pairs p CROSS JOIN embeddings e
    GROUP BY p.i, p.j
    ORDER BY i, j
    """,
)


@query("ml_pca_project")
def ml_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection: covariance via one Gram pass, driver
    eigh on the 64x64 matrix, JVM zip_with dot-product projection onto
    the sign-fixed top-2 components. Eigenvectors are not
    SQL-expressible, so the GRADED surface audits PCA's defining
    invariants over the full projection (the `agg_approx_sketch`
    pattern, all deterministic-true): the sample variance captured by
    pc1 must be >= pc2's (eigenvalue ordering realized in the projected
    data), pc1 and pc2 must be uncorrelated (orthogonal components of a
    symmetric eigendecomposition — |covar| bounded by float noise), and
    the explained-variance ratios must be ordered, positive, and sum
    <= 1. Exact numeric parity vs numpy PCA pinned by
    tests/test_ml_pca.py."""
    from sdc_spark.operators.ml import pca_project

    emb = read_table(spark, sf_dir, "embeddings")
    proj, evr = pca_project(emb, "vec_id", "embedding", 64, k=2)
    evr_ok = bool(evr[0] >= evr[1] > 0.0 and evr[0] + evr[1] <= 1.0 + 1e-9)
    a = proj.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.var_samp("pc1").alias("v1"),
        F.var_samp("pc2").alias("v2"),
        F.covar_samp("pc1", "pc2").alias("cv"),
    )
    return a.select(
        "n_vecs",
        (F.col("v1") >= F.col("v2") * (1.0 - 1e-9)).alias("variance_order_ok"),
        (
            F.abs(F.col("cv")) <= 1e-6 * F.sqrt(F.col("v1") * F.col("v2")) + 1e-9
        ).alias("uncorrelated_ok"),
        F.lit(evr_ok).alias("evr_ok"),
    )


oracle(
    "ml_pca_project",
    """
    SELECT count(*) AS n_vecs, TRUE AS variance_order_ok,
           TRUE AS uncorrelated_ok, TRUE AS evr_ok
    FROM embeddings
    """,
)
