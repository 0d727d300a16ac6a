"""Trailing row-count rolling windows with pandas ``min_periods`` semantics.

Reference: series/df ``.rolling(window, min_periods)`` —
/root/reference/sdc/datatypes/hpat_pandas_rolling_types.py:36-117 and the
kernel set in hpat_pandas_series_rolling_functions.py:106-1140
(sum, mean, count, var, std, min, max, median, quantile, skew, kurt,
corr, cov, apply). The reference's incremental pop/put kernels are a
single-threaded optimization; on Spark the same semantics are one window
spec evaluated by the native WindowExec — partitioned, spill-aware, no
Python in the loop.

Semantics reproduced:
- trailing window of ``window`` rows: rowsBetween(-(window-1), 0);
- result is NULL until at least ``min_periods`` non-null values are in
  the frame (pandas counts non-null, not rows) — expressed as a
  ``count(col) over w >= min_periods`` guard;
- ddof=1 for var/std (sample), matching pandas defaults.

Evaluate-once rule. Spark extracts EVERY reference to ``agg.over(w)`` in
a projection as its own window expression — holding the Column in a
Python variable and using it five times computes it five times — and a
sliding ROWS frame rebuilds each window expression from the whole frame
for every row. So no kernel here calls ``.over``. A kernel is a pair
``(aggs, finisher)``: ``aggs`` maps a key (role and input tag, e.g.
``__sx_x``) to an unwindowed aggregate, and ``finisher`` is the
arithmetic over those keys' columns. Callers merge the kernels' ``aggs``
(equal keys are one aggregate, so the ``min_periods`` guard shares the
kernel's own count), evaluate them with ``over_once`` — one projection,
each aggregate once — and select the finishers on top. The SDC
reference keeps each moment sum once per window the same way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

Kernel = tuple[dict[str, Column], Column]


def rolling_window(
    order_by: Sequence[str | Column],
    partition_by: Sequence[str | Column] = (),
    window: int = 1,
) -> WindowSpec:
    w = W.partitionBy(*partition_by) if partition_by else W.partitionBy()
    return w.orderBy(*order_by).rowsBetween(-(window - 1), 0)


def over_once(
    df: DataFrame, w: WindowSpec, keep: Sequence[str | Column], aggs: dict[str, Column]
) -> DataFrame:
    """``keep`` plus each of ``aggs`` evaluated over ``w`` exactly once, as a
    column named by its key — the one place a rolling aggregate meets its
    window."""
    return df.select(*keep, *[a.over(w).alias(k) for k, a in aggs.items()])


def _key(role: str, tag: str) -> str:
    return f"__{role}_{tag}"


_AGGS = {
    "sum": F.sum,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,
    "var": F.var_samp,
    # F.median rejects window frames; exact percentile(0.5) is frame-capable
    "median": lambda c: F.percentile(c, F.lit(0.5)),
    "skew": F.skewness,
    "kurt": F.kurtosis,
}


def native(agg: str, x: Column, tag: str) -> Kernel:
    """One native Spark aggregate as a kernel. ``count`` is keyed as the
    guard's count, so a counted and guarded column counts once."""
    k = _key("n" if agg == "count" else agg, tag)
    return {k: _AGGS[agg](x)}, F.col(k)


def percentile(x: Column, tag: str, q: float) -> Kernel:
    k = _key("quantile", tag)
    return {k: F.percentile(x, F.lit(q))}, F.col(k)


def _guard(x: Column, tag: str, min_periods: int, kernel: Kernel) -> Kernel:
    """NULL until ``count(x)`` over the frame reaches ``min_periods``. The
    count is keyed like the kernel's own ``n``: a kernel that counts the
    same input shares it."""
    if min_periods <= 0:
        return kernel
    aggs, fin = kernel
    n = _key("n", tag)
    return {n: F.count(x), **aggs}, F.when(F.col(n) >= min_periods, fin)


def row_count(x: Column, tag: str, min_periods: int) -> Kernel:
    """pandas rolling count: the non-null count, guarded on the frame's ROW
    count (a full-size window emits its count even if most values are
    NaN). The row count is shared by every column of one window."""
    n = _key("n", tag)
    if min_periods <= 0:
        return {n: F.count(x)}, F.col(n)
    rows = _key("rows", "")
    return (
        {rows: F.count(F.lit(1)), n: F.count(x)},
        F.when(F.col(rows) >= min_periods, F.col(n)),
    )


def _pairwise(x: Column, y: Column, tag: str, kind: str, min_periods: int) -> Kernel:
    """Windowed Pearson corr / sample covariance from co-moment sums.

    Spark's native corr/covar window aggregates raise DIVIDE_BY_ZERO under
    ANSI mode when a frame holds <2 rows (the window is evaluated for every
    row before any CASE guard applies), so we build them from sum/count —
    try_divide yields NULL on degenerate frames, matching pandas/DuckDB.
    Only rows where BOTH values are non-null participate (pandas pairwise
    semantics), and ``min_periods`` is weighed against that pair count —
    the kernel's own ``n``.

    Numerics: rolling_agg pre-centers both columns on their global means,
    so the co-moment sums there are over deviations — this kills the
    catastrophic cancellation the raw two-pass formula suffers on
    large-magnitude data and keeps us bit-comparable with single-pass
    (Welford) engines after rounding."""
    both = x.isNotNull() & y.isNotNull()
    xv = F.when(both, x)
    yv = F.when(both, y)
    k = lambda role: _key(role, tag)  # noqa: E731
    aggs = {
        k("n"): F.count(xv),
        k("sx"): F.sum(xv),
        k("sy"): F.sum(yv),
        k("sxy"): F.sum(xv * yv),
    }
    n = F.col(k("n")).cast("double")
    sx, sy, sxy = F.col(k("sx")), F.col(k("sy")), F.col(k("sxy"))
    if kind == "cov":
        fin = F.try_divide(sxy - sx * sy / n, n - 1)
    else:
        aggs[k("sxx")] = F.sum(xv * xv)
        aggs[k("syy")] = F.sum(yv * yv)
        sxx, syy = F.col(k("sxx")), F.col(k("syy"))
        fin = F.try_divide(
            n * sxy - sx * sy,
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
        )
    return _guard(xv, tag, min_periods, (aggs, fin))


def _moments(x: Column, tag: str, top: int) -> tuple[dict[str, Column], list[Column]]:
    """count(x) and the raw power means E[x], …, E[x^top] as aggregates,
    plus their columns (count cast to double)."""
    aggs = {_key("n", tag): F.count(x)}
    p = x
    for i in range(1, top + 1):
        aggs[_key(f"ex{i}", tag)] = F.avg(p)
        p = p * x
    return aggs, [F.col(k) if i else F.col(k).cast("double") for i, k in enumerate(aggs)]


def skew_expr(x: Column, tag: str) -> Kernel:
    """pandas sample-adjusted rolling skew G1 = sqrt(n(n-1))/(n-2) · g1
    from raw power sums (Spark's skewness() is population g1; reference
    formula sdc/functions/statistics.py:32-40 is the pandas one)."""
    aggs, (n, m, ex2, ex3) = _moments(x, tag, 3)
    m2 = ex2 - m * m
    m3 = ex3 - 3 * m * ex2 + 2 * m * m * m
    g1 = F.try_divide(m3, F.pow(m2, 1.5))
    return aggs, g1 * F.try_divide(F.sqrt(n * (n - 1)), n - 2)


def kurt_expr(x: Column, tag: str) -> Kernel:
    """pandas sample excess kurtosis from power sums:
    ((n+1)·g2 + 6) · (n−1)/((n−2)(n−3)) with g2 = m4/m2² − 3."""
    aggs, (n, m, ex2, ex3, ex4) = _moments(x, tag, 4)
    m2 = ex2 - m * m
    m4 = ex4 - 4 * m * ex3 + 6 * m * m * ex2 - 3 * m * m * m * m
    g2 = F.try_divide(m4, m2 * m2) - 3
    return aggs, F.try_divide((n + 1) * g2 + 6, (n - 2) * (n - 3)) * (n - 1)


def scaled_long(col: str | Column, decimals: int) -> Column:
    """Exact integer encoding of a decimal-quantized column: x·10^d as long.

    Parquet test data carries fixed-decimal values (prices: 2 decimals,
    quantities: integers); x*10^d suffers float error so we round before the
    cast. Downstream co-moment sums over these longs are EXACT in both Spark
    and any SQL oracle → cross-engine bit-identical statistics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**decimals), 0).cast("long")


def exact_var_std(
    x_long: Column, tag: str, scale: int, ddof: int = 1
) -> tuple[dict[str, Column], Column, Column, Column]:
    """Sample variance/stddev over a window from integer co-moments:
    var = (n·Σx² − (Σx)²) / (n·(n−ddof)) / scale². All products stay in
    long (exact) until the final double division — the same arithmetic an
    oracle engine performs on the same integers, so results match bitwise.
    Returns (aggs, n, var, std); ``n`` is there for the caller's guard."""
    k = lambda role: _key(role, tag)  # noqa: E731
    aggs = {k("n"): F.count(x_long), k("sx"): F.sum(x_long), k("sxx"): F.sum(x_long * x_long)}
    n, sx, sxx = (F.col(c) for c in aggs)
    num = (n * sxx - sx * sx).cast("double")
    var = F.try_divide(num, (n * (n - ddof)).cast("double")) / float(scale) ** 2
    return aggs, n, var, F.sqrt(var)


def exact_cov_corr(
    x_long: Column, y_long: Column, tag: str, scale_x: int, scale_y: int
) -> tuple[dict[str, Column], Column, Column, Column]:
    """Pairwise sample covariance + Pearson corr from integer co-moments
    (same cross-engine-exact scheme as exact_var_std). Returns
    (aggs, n, cov, corr)."""
    k = lambda role: _key(role, tag)  # noqa: E731
    aggs = {
        k("n"): F.count(x_long),
        k("sx"): F.sum(x_long),
        k("sy"): F.sum(y_long),
        k("sxy"): F.sum(x_long * y_long),
        k("sxx"): F.sum(x_long * x_long),
        k("syy"): F.sum(y_long * y_long),
    }
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in aggs)
    num = (n * sxy - sx * sy).cast("double")
    cov = F.try_divide(num, (n * (n - 1)).cast("double")) / float(scale_x * scale_y)
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt((n * syy - sy * sy).cast("double"))
    corr = F.try_divide(num, den)
    return aggs, n, cov, corr


def rolling_agg(
    df: DataFrame,
    col: str,
    aggs: Sequence[str],
    order_by: Sequence[str | Column],
    partition_by: Sequence[str | Column] = (),
    window: int = 1,
    min_periods: int = 1,
    quantile: float = 0.5,
    other: str | None = None,
) -> DataFrame:
    """Append ``{agg}_{col}`` rolling columns. ``other`` is the second column
    for corr/cov (pairwise kernels, ref rolling corr/cov overloads)."""
    w = rolling_window(order_by, partition_by, window)
    base = df
    if any(a in ("corr", "cov") for a in aggs):
        # Pre-center on global means (shift-invariant for corr/cov): one
        # scalar aggregate broadcast to every partition — O(1) network.
        centers = df.agg(
            F.avg(col).alias("__cx__"), F.avg(other).alias("__cy__")
        )
        base = df.crossJoin(F.broadcast(centers))
    x = F.col(col)
    window_aggs, outs = {}, []
    for agg in aggs:
        if agg == "count":
            # pandas rolling.count has min_periods=0 flavor: count of non-null
            kernel = native("count", x, "x")
        elif agg in _AGGS:
            kernel = _guard(x, "x", min_periods, native(agg, x, "x"))
        elif agg == "quantile":
            kernel = _guard(x, "x", min_periods, percentile(x, "x", quantile))
        elif agg in ("corr", "cov"):
            xc, yc = x - F.col("__cx__"), F.col(other) - F.col("__cy__")
            kernel = _pairwise(xc, yc, "xy", agg, min_periods)
        else:
            raise ValueError(f"unsupported rolling agg {agg!r}")
        window_aggs.update(kernel[0])
        outs.append(kernel[1].alias(f"{agg}_{col}"))
    return (
        over_once(base, w, ["*"], window_aggs)
        .select("*", *outs)
        .drop(*window_aggs, "__cx__", "__cy__")
    )
