"""Rolling kernel grid vs pandas — the reference's test_rolling.py runs
kernels x dtypes x (window, min_periods) (152 tests,
sdc/tests/test_rolling.py); this is the same grid compressed: each Spark
query evaluates ONE kernel/window combo over a NaN-injected series and
diffs against pandas exactly.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/repo")

from sdc_spark.frame import from_pandas

KERNELS = ["sum", "mean", "min", "max", "std", "var", "median", "count", "skew", "kurt"]
COMBOS = [(3, 1), (7, 4), (12, 12)]


@pytest.fixture(scope="module")
def series_pair(spark):
    rng = np.random.RandomState(42)
    ps = pd.Series(rng.randn(200) * 10, name="v")
    ps[ps.sample(25, random_state=7).index] = np.nan
    return from_pandas(spark, ps.to_frame())["v"], ps


@pytest.mark.parametrize("window,minp", COMBOS)
@pytest.mark.parametrize("kernel", KERNELS)
def test_rolling_kernel_grid(series_pair, kernel, window, minp):
    s, ps = series_pair
    got = getattr(s.rolling(window, min_periods=minp), kernel)().to_pandas()
    exp = getattr(ps.rolling(window, min_periods=minp), kernel)()
    pd.testing.assert_series_equal(
        got, exp, check_names=False, check_dtype=False, atol=1e-8, rtol=1e-8
    )


def test_rolling_quantile_grid(series_pair):
    s, ps = series_pair
    for q in (0.1, 0.5, 0.9):
        got = s.rolling(8, min_periods=5).quantile(q).to_pandas()
        exp = ps.rolling(8, min_periods=5).quantile(q)
        pd.testing.assert_series_equal(
            got, exp, check_names=False, check_dtype=False, atol=1e-8
        )


CLOSED = ["right", "left", "both", "neither"]


@pytest.mark.parametrize("closed", CLOSED)
@pytest.mark.parametrize("kernel", ["sum", "mean", "min", "max", "std", "count", "median"])
def test_rolling_closed_grid(series_pair, kernel, closed):
    """closed= (VERDICT r10 item 8): pandas-differential across the
    kernel family — the frame-bound arithmetic must reproduce pandas'
    include/exclude-endpoint semantics, NaN guards included.
    min_periods is explicit (pandas' count default-minp changed across
    2.x; explicit minp pins the semantics under test, the bounds)."""
    s, ps = series_pair
    got = getattr(s.rolling(5, min_periods=2, closed=closed), kernel)().to_pandas()
    exp = getattr(ps.rolling(5, min_periods=2, closed=closed), kernel)()
    pd.testing.assert_series_equal(
        got, exp, check_names=False, check_dtype=False, atol=1e-8, rtol=1e-8
    )


@pytest.mark.parametrize("closed", CLOSED)
def test_rolling_closed_default_minp(series_pair, closed):
    """Default min_periods (= window) under every closed mode: for
    'left'/'neither' the frame never reaches `window` rows, so the
    result is all-NaN — exactly pandas."""
    s, ps = series_pair
    got = s.rolling(4, closed=closed).sum().to_pandas()
    exp = ps.rolling(4, closed=closed).sum()
    pd.testing.assert_series_equal(
        got, exp, check_names=False, check_dtype=False, atol=1e-8, rtol=1e-8
    )


def test_rolling_closed_frame_api(spark):
    pdf = pd.DataFrame(
        {"a": [1.0, 2, np.nan, 4, 5, 6], "b": [2.0, 1, 3, np.nan, 2, 8]}
    )
    sf = from_pandas(spark, pdf)
    got = sf.rolling(3, min_periods=1, closed="left").mean().to_pandas()
    exp = pdf.rolling(3, min_periods=1, closed="left").mean()
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, atol=1e-8, rtol=1e-8
    )


def test_rolling_win_type_and_degenerates_raise(series_pair):
    s, _ = series_pair
    with pytest.raises(NotImplementedError):
        s.rolling(3, win_type="gaussian")
    with pytest.raises(NotImplementedError):
        s.rolling(3, center=True, closed="left")
    with pytest.raises(NotImplementedError):
        s.rolling(1, closed="neither")
    with pytest.raises(ValueError):
        s.rolling(3, closed="sideways")


def test_rolling_agg_pairwise_guard_counts_pairs(spark):
    """operators.rolling_agg corr/cov with NaN on the y side only: the
    min_periods guard must weigh valid PAIRS (the pairwise kernel's own
    count), not the non-null x values, as pandas does."""
    from sdc_spark.operators import rolling_agg

    rng = np.random.RandomState(23)
    x = rng.randn(60) * 3 + 1
    y = 0.5 * x + rng.randn(60)
    y[rng.choice(60, 15, replace=False)] = np.nan
    rows = [(i, float(a), None if np.isnan(b) else float(b)) for i, (a, b) in enumerate(zip(x, y))]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = (
        rolling_agg(df, "x", ["corr", "cov"], order_by=["id"], window=8, min_periods=5, other="y")
        .orderBy("id")
        .toPandas()
    )
    px, py = pd.Series(x), pd.Series(y)
    for kind in ("corr", "cov"):
        exp = getattr(px.rolling(8, min_periods=5), kind)(py)
        # rows where the x count alone would pass the guard but the pairs do not
        assert (exp.isna() & (px.rolling(8, min_periods=1).count() >= 5)).any()
        pd.testing.assert_series_equal(
            got[f"{kind}_x"], exp, check_names=False, check_dtype=False, atol=1e-9
        )
