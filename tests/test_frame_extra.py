"""Differential tests for the second wave of frame API surface:
where/mask/setitem, loc/iloc/at, rolling skew/kurt, astype."""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/repo")

from sdc_spark.frame import from_pandas


@pytest.fixture(scope="module")
def pdf():
    rng = np.random.RandomState(7)
    return pd.DataFrame({"v": rng.randn(120) * 5 + 3, "k": rng.randint(0, 4, 120)})


@pytest.fixture(scope="module")
def sf(spark, pdf):
    return from_pandas(spark, pdf)


def eq(got, exp, **kw):
    pd.testing.assert_series_equal(got.to_pandas(), exp, check_names=False, check_dtype=False, **kw)


def test_where_mask_setitem(sf, pdf):
    cond_s = sf["v"] > 0
    cond_p = pdf["v"] > 0
    eq(sf["v"].where(cond_s), pdf["v"].where(cond_p))
    eq(sf["v"].where(cond_s, -1.0), pdf["v"].where(cond_p, -1.0))
    eq(sf["v"].mask(cond_s, 0.0), pdf["v"].mask(cond_p, 0.0))
    exp = pdf["v"].copy()
    exp[cond_p] = 9.5
    eq(sf["v"].set_where(cond_s, 9.5), exp)


def test_loc_iloc_at(sf, pdf):
    got = sf.loc(5).to_pandas()
    assert got.iloc[0]["v"] == pytest.approx(pdf.loc[5, "v"])
    got_rng = sf.loc_range(10, 20).to_pandas()
    pd.testing.assert_frame_equal(got_rng[["v", "k"]], pdf.loc[10:20], check_dtype=False)
    assert sf.iloc(7)["v"] == pytest.approx(pdf.iloc[7]["v"])
    assert sf.at(3, "v") == pytest.approx(pdf.at[3, "v"])
    with pytest.raises(IndexError):
        sf.iloc(10_000)


def test_rolling_skew_kurt(sf, pdf):
    got_s = sf["v"].rolling(12, min_periods=6).skew()
    exp_s = pdf["v"].rolling(12, min_periods=6).skew()
    pd.testing.assert_series_equal(
        got_s.to_pandas(), exp_s, check_names=False, check_dtype=False, atol=1e-7
    )
    got_k = sf["v"].rolling(12, min_periods=6).kurt()
    exp_k = pdf["v"].rolling(12, min_periods=6).kurt()
    pd.testing.assert_series_equal(
        got_k.to_pandas(), exp_k, check_names=False, check_dtype=False, atol=1e-7
    )


def test_astype(sf, pdf):
    eq(sf["v"].astype("int"), pdf["v"].astype("int64"))
    eq(sf["k"].astype("float"), pdf["k"].astype("float64"))
    eq(sf["k"].astype("str"), pdf["k"].astype(str))


def test_rolling_center(sf, pdf):
    got = sf["v"].rolling(7, min_periods=3, center=True).mean()
    exp = pdf["v"].rolling(7, min_periods=3, center=True).mean()
    eq(got, exp)


def test_groupby_apply(sf, pdf):
    got = (
        sf.groupby("k")
        .apply(
            lambda p: p.assign(vdm=p["v"] - p["v"].mean())[["k", "vdm"]],
            schema="k bigint, vdm double",
        )
        .to_pandas()
        .groupby("k")["vdm"]
        .sum()
    )
    exp = pdf.groupby("k")["v"].apply(lambda s: (s - s.mean()).sum())
    np.testing.assert_allclose(sorted(got.values), sorted(exp.values), atol=1e-9)


def test_merge_asof_nearest_differential(spark):
    from sdc_spark.operators.asof import merge_asof

    lp = pd.DataFrame({"t": [1, 5, 10, 14, 20, 3], "lv": list("abcdef")}).sort_values("t")
    rp = pd.DataFrame({"t": [2, 6, 12, 18], "rv": [10, 20, 30, 40]}).sort_values("t")
    for direction in ("backward", "forward", "nearest"):
        exp = pd.merge_asof(lp, rp, on="t", direction=direction)
        got = (
            merge_asof(spark.createDataFrame(lp), spark.createDataFrame(rp), on="t", direction=direction)
            .toPandas().sort_values("t").reset_index(drop=True)
        )
        a = got["rv"].where(got["rv"].notna(), -1).tolist()
        b = exp["rv"].where(exp["rv"].notna(), -1).tolist()
        assert a == b, (direction, a, b)
    # by-grouped nearest
    lp2 = pd.DataFrame({"g": ["x", "x", "y", "y"], "t": [1, 9, 4, 7], "lv": [1, 2, 3, 4]}).sort_values("t")
    rp2 = pd.DataFrame({"g": ["x", "x", "y"], "t": [3, 8, 5], "rv": [100, 200, 300]}).sort_values("t")
    exp2 = pd.merge_asof(lp2, rp2, on="t", by="g", direction="nearest")
    got2 = merge_asof(
        spark.createDataFrame(lp2), spark.createDataFrame(rp2), on="t", by=["g"], direction="nearest"
    ).toPandas().set_index(["g", "t"]).sort_index()
    e2 = exp2.set_index(["g", "t"]).sort_index()
    assert e2["rv"].tolist() == got2.loc[e2.index, "rv"].tolist()


def test_series_positional_accessors(spark):
    ps = pd.Series([30.0, 10.0, 20.0, 40.0, 5.0], index=[2, 4, 6, 8, 10], name="v")
    sf2 = from_pandas(spark, ps.to_frame())
    s = sf2["v"]
    # iat / at scalars
    assert s.iat(2) == ps.iat[2]
    assert s.at(6) == ps.at[6]
    assert s.iloc[3] == ps.iloc[3]
    assert s.loc[6] == ps.loc[6]
    # iloc slices (positional) and loc slices (label, stop-inclusive)
    eq(s.iloc[1:4], ps.iloc[1:4])
    eq(s.iloc[0:5:2], ps.iloc[0:5:2])
    eq(s.loc[4:8], ps.loc[4:8])
    eq(s.loc[[2, 8]], ps.loc[[2, 8]])
    # take preserves the given order
    got = s.take([3, 0, 2]).to_pandas()
    exp = ps.take([3, 0, 2])
    assert got.tolist() == exp.tolist() and got.index.tolist() == exp.index.tolist()
    # argsort
    got = s.argsort().to_pandas()
    exp = ps.argsort()
    assert got.tolist() == exp.tolist() and got.index.tolist() == exp.index.tolist()


def test_series_argsort_nan(spark):
    # pandas <3.0 legacy puts -1 at NaN positions (deprecated with a
    # FutureWarning); we implement the announced future semantics: NaNs
    # ordered last, all results original positions.
    ps = pd.Series([3.0, float("nan"), 1.0, 2.0], name="v")
    s = from_pandas(spark, ps.to_frame())["v"]
    got = s.argsort().to_pandas()
    assert got.tolist() == [2, 3, 0, 1]


def test_series_groupby_by_series(spark):
    pdf = pd.DataFrame(
        {"v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0], "k": ["a", "b", "a", "b", "a", None]}
    )
    sf2 = from_pandas(spark, pdf)
    gb = sf2["v"].groupby(sf2["k"])
    for m in ("sum", "mean", "min", "max", "count", "std", "var", "median", "prod"):
        got = getattr(gb, m)().to_pandas().sort_index()
        exp = getattr(pdf["v"].groupby(pdf["k"]), m)().sort_index()
        pd.testing.assert_series_equal(
            got, exp, check_names=False, check_dtype=False, check_index_type=False
        )


def test_nunique_value_counts_params(spark):
    ps = pd.Series([1.0, 2.0, 2.0, float("nan"), 3.0, 3.0, 3.0, float("nan")], name="v")
    s = from_pandas(spark, ps.to_frame())["v"]
    assert s.nunique() == ps.nunique()
    assert s.nunique(dropna=False) == ps.nunique(dropna=False)
    # sort=False -> first-appearance order
    got = s.value_counts(sort=False).to_pandas()
    exp = ps.value_counts(sort=False)
    assert got.index.tolist() == exp.index.tolist()
    assert got.tolist() == exp.tolist()
    # dropna=False includes one NaN group
    got = s.value_counts(dropna=False).to_pandas()
    exp = ps.value_counts(dropna=False)
    assert sorted(got.tolist()) == sorted(exp.tolist())
    assert len(got) == len(exp)


def test_reflected_ops(spark, sf, pdf):
    s = sf["v"]
    for got, exp in [
        (2 + s, 2 + pdf["v"]),
        (10 - s, 10 - pdf["v"]),
        (3 * s, 3 * pdf["v"]),
        (1 / s, 1 / pdf["v"]),
        (2 ** (s * 0 + 2), 2 ** (pdf["v"] * 0 + 2)),
    ]:
        eq(got, exp)


def test_frame_isin_variants(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4], "b": [10, 20, 30, 40]})
    sf2 = from_pandas(spark, pdf)
    # dict
    got = sf2.isin({"a": [1, 3], "b": [20]}).to_pandas()
    exp = pdf.isin({"a": [1, 3], "b": [20]})
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    # series (index-aligned)
    ser = pd.Series([1, 20, 99, 40], index=pdf.index)
    got = sf2.isin(from_pandas(spark, ser.to_frame("x"))["x"]).to_pandas()
    exp = pdf.isin(ser)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    # frame (column+index aligned)
    other = pd.DataFrame({"a": [1, 9, 3, 9], "c": [0, 0, 0, 0]})
    got = sf2.isin(from_pandas(spark, other)).to_pandas()
    exp = pdf.isin(other)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)


def test_shift_cumsum_distributed(spark):
    rng = np.random.RandomState(3)
    ps = pd.Series(rng.randn(500), name="v")
    ps[ps.sample(30, random_state=1).index] = float("nan")
    s = from_pandas(spark, ps.to_frame())["v"]
    eq(s.shift(3), ps.shift(3))
    eq(s.shift(-2), ps.shift(-2))
    eq(s.cumsum(), ps.cumsum())
    eq(s.pct_change(2, fill_method=None), ps.pct_change(2, fill_method=None))
    # default fill_method follows the reference (pandas-0.25-era 'pad')


def test_frame_rolling_full_kernels(spark):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"x": rng.randn(80), "y": rng.randn(80) * 2 + 1})
    pdf.loc[pdf.sample(8, random_state=2).index, "x"] = float("nan")
    sf2 = from_pandas(spark, pdf)
    r = sf2.rolling(7, min_periods=4)
    pr = pdf.rolling(7, min_periods=4)
    for m in ("sum", "mean", "min", "max", "std", "var", "median", "count", "skew", "kurt"):
        got = getattr(r, m)().to_pandas()
        exp = getattr(pr, m)()
        pd.testing.assert_frame_equal(
            got, exp, check_dtype=False, check_index_type=False, atol=1e-9
        )
    got = r.quantile(0.3).to_pandas()
    exp = pr.quantile(0.3)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False, atol=1e-9)
    got = r.apply(np.ptp).to_pandas()
    exp = pr.apply(np.ptp, raw=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False, atol=1e-9)


def test_frame_rolling_pairwise(spark):
    rng = np.random.RandomState(12)
    pdf = pd.DataFrame({"x": rng.randn(60), "y": rng.randn(60)})
    other = pd.DataFrame({"x": rng.randn(60) * 3, "y": rng.randn(60) + 5})
    sf2, so = from_pandas(spark, pdf), from_pandas(spark, other)
    for kind in ("corr", "cov"):
        got = getattr(sf2.rolling(10, min_periods=5), kind)(so).to_pandas()
        exp = getattr(pdf.rolling(10, min_periods=5), kind)(other, pairwise=False)
        pd.testing.assert_frame_equal(
            got, exp, check_dtype=False, check_index_type=False, atol=1e-9
        )
    # vs series
    ps = pd.Series(rng.randn(60), name="s")
    ss = from_pandas(spark, ps.to_frame())["s"]
    got = sf2.rolling(10, min_periods=5).corr(ss).to_pandas()
    exp = pdf.rolling(10, min_periods=5).corr(ps)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False, atol=1e-9)


def test_series_append(spark):
    a = pd.Series([1.0, 2.0], name="v")
    b = pd.Series([3.0, 4.0, 5.0], name="v")
    sa = from_pandas(spark, a.to_frame())["v"]
    sb = from_pandas(spark, b.to_frame())["v"]
    got = sa.append(sb, ignore_index=True).to_pandas()
    exp = pd.concat([a, b], ignore_index=True)
    assert got.tolist() == exp.tolist() and got.index.tolist() == exp.index.tolist()


def test_multiindex_ctors(spark):
    from sdc_spark.frame.multiindex import from_product, from_tuples

    got = from_product(spark, [["a", "b"], [1, 2, 3]], names=["k", "n"]).toPandas()
    exp = pd.MultiIndex.from_product([["a", "b"], [1, 2, 3]], names=["k", "n"]).to_frame(index=False)
    assert sorted(map(tuple, got.values.tolist())) == sorted(map(tuple, exp.values.tolist()))
    got = from_tuples(spark, [("x", 1), ("y", 2)], names=["k", "n"]).toPandas()
    assert sorted(map(tuple, got.values.tolist())) == [("x", 1), ("y", 2)]


def test_ordered_categorical(spark):
    from pyspark.sql import functions as F
    from sdc_spark.functions.categorical import cat_compare, min_code_type, ordered_codes

    cats = ["low", "mid", "high"]
    pdf = pd.DataFrame({"g": ["mid", "low", "high", "mid", None]})
    sdf = spark.createDataFrame(pdf)
    out = sdf.select(
        ordered_codes("g", cats).alias("code"),
        cat_compare("g", "mid", cats, "lt").alias("lt_mid"),
        cat_compare("g", "mid", cats, "ge").alias("ge_mid"),
    ).toPandas()
    pc = pd.Categorical(pdf["g"], categories=cats, ordered=True)
    assert out["code"].tolist() == list(pc.codes)
    exp_lt = pd.Series(pc) < "mid"
    assert out["lt_mid"].fillna(False).tolist() == exp_lt.tolist()
    assert min_code_type(100) == "tinyint"
    assert min_code_type(1000) == "smallint"
    assert min_code_type(40000) == "int"
    # codes column is minimal width
    assert dict(sdf.select(ordered_codes("g", cats).alias("c")).dtypes)["c"] == "tinyint"


def test_merge_asof_tolerance_exact(spark):
    from sdc_spark.operators.asof import merge_asof

    lp = pd.DataFrame({"t": [1, 5, 10, 14, 20], "lv": list("abcde")})
    rp = pd.DataFrame({"t": [1, 6, 10, 18], "rv": [10, 20, 30, 40]})
    for direction in ("backward", "forward", "nearest"):
        for tol, exact in [(3, True), (None, False), (2, False)]:
            exp = pd.merge_asof(
                lp, rp, on="t", direction=direction,
                tolerance=tol, allow_exact_matches=exact,
            )
            got = (
                merge_asof(
                    spark.createDataFrame(lp), spark.createDataFrame(rp), on="t",
                    direction=direction, tolerance=tol, allow_exact_matches=exact,
                ).toPandas().sort_values("t").reset_index(drop=True)
            )
            a = got["rv"].where(got["rv"].notna(), -1).tolist()
            b = exp["rv"].where(exp["rv"].notna(), -1).tolist()
            assert a == b, (direction, tol, exact, a, b)


def test_frame_take(spark):
    pdf = pd.DataFrame({"a": [10, 20, 30, 40, 50], "b": list("vwxyz")})
    sf2 = from_pandas(spark, pdf)
    got = sf2.take([4, 0, 2]).to_pandas().sort_index()
    exp = pdf.take([4, 0, 2]).sort_index()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)


def test_frame_slice_setindex_sortindex(spark):
    pdf = pd.DataFrame({"a": list(range(10)), "b": [x * 2.0 for x in range(10)]})
    sf2 = from_pandas(spark, pdf)
    got = sf2[2:9:3].to_pandas()
    exp = pdf[2:9:3]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    # set_index promotes a column; sort_index orders by it
    si = sf2.set_index("a")
    got = si.sort_index(ascending=False).to_pandas()
    exp = pdf.set_index("a").sort_index(ascending=False)
    # to_pandas orders by index ascending; compare content on sorted index
    pd.testing.assert_frame_equal(
        got.sort_index(), exp.sort_index(), check_dtype=False, check_index_type=False, check_names=False
    )


def test_groupby_size_nunique(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "a", "b", "b", "b", None], "v": [1.0, 1.0, 2.0, 3.0, 3.0, 9.0]}
    )
    sf2 = from_pandas(spark, pdf)
    got = sf2.groupby("k").size().to_pandas()["size"]
    exp = pdf.groupby("k").size()
    assert got.sort_index().tolist() == exp.sort_index().tolist()
    got = sf2.groupby("k").nunique().to_pandas()["v"]
    exp = pdf.groupby("k").nunique()["v"]
    assert got.sort_index().tolist() == exp.sort_index().tolist()


def test_series_small_surface(spark):
    ps = pd.Series([3.0, 1.0, 4.0, 1.5, 9.0], name="v")
    s = from_pandas(spark, ps.to_frame())["v"]
    assert s.ndim == 1 and s.shape == (5,)
    assert s.index == [0, 1, 2, 3, 4]
    assert s.rename("w").name == "w"
    eq(s.isnull(), ps.isnull())
    eq(s.diff(1), ps.diff(1))
    eq(s.diff(-2), ps.diff(-2))
    a, b = s.align(from_pandas(spark, pd.Series([10.0], index=[2], name="o").to_frame())["o"])
    ea, eb = ps.align(pd.Series([10.0], index=[2], name="o"))
    eq(a, ea)
    eq(b, eb)
    got = s.describe()
    exp = ps.describe()
    pd.testing.assert_series_equal(got, exp, check_dtype=False, atol=1e-9)


def test_series_dt_accessor(spark):
    ps = pd.Series(
        pd.to_datetime(
            ["2024-01-15 10:30:45", "2023-12-31 23:59:59", "2024-02-29 00:00:00"]
        ),
        name="t",
    )
    s = from_pandas(spark, ps.to_frame())["t"]
    for attr in ("year", "month", "day", "hour", "minute", "second",
                 "quarter", "dayofyear", "dayofweek", "is_month_start", "is_month_end"):
        got = getattr(s.dt, attr).to_pandas()
        exp = getattr(ps.dt, attr)
        assert got.tolist() == exp.tolist(), attr


def test_groupby_quantile(spark):
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({"k": rng.randint(0, 3, 60), "v": rng.randn(60)})
    sf2 = from_pandas(spark, pdf)
    got = sf2.groupby("k").quantile(0.75).to_pandas()["v"]
    exp = pdf.groupby("k")["v"].quantile(0.75)
    assert got.sort_index().tolist() == pytest.approx(exp.sort_index().tolist())
    # approx path runs and is close
    ga = sf2.groupby("k").quantile(0.75, approx=True).to_pandas()["v"]
    assert ga.sort_index().tolist() == pytest.approx(exp.sort_index().tolist(), abs=0.3)


def test_series_ffill_bfill(spark):
    rng = np.random.RandomState(9)
    ps = pd.Series(rng.randn(300), name="v")
    ps[ps.sample(80, random_state=4).index] = float("nan")
    ps.iloc[:5] = float("nan")   # leading NaNs stay NaN under ffill
    ps.iloc[-5:] = float("nan")  # trailing NaNs stay NaN under bfill
    s = from_pandas(spark, ps.to_frame())["v"]
    eq(s.ffill(), ps.ffill())
    eq(s.bfill(), ps.bfill())
    eq(s.fillna(method="pad"), ps.ffill())


def test_series_cum_clip_rank(spark):
    rng = np.random.RandomState(13)
    ps = pd.Series(rng.randn(150) * 3, name="v")
    ps[ps.sample(20, random_state=6).index] = float("nan")
    s = from_pandas(spark, ps.to_frame())["v"]
    eq(s.cummax(), ps.cummax())
    eq(s.cummin(), ps.cummin())
    pos = ps.abs() + 0.5  # positive, cumprod won't over/underflow fast
    sp = from_pandas(spark, pos.to_frame("p"))["p"]
    got = sp.cumprod().to_pandas()
    exp = pos.cumprod()
    pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False, rtol=1e-9)
    eq(s.clip(-1.0, 1.0), ps.clip(-1.0, 1.0))
    eq(s.round(2), ps.round(2))
    eq(s.between(-1, 1), ps.between(-1, 1))
    for m in ("average", "min", "max", "dense"):
        got = s.rank(method=m).to_pandas()
        exp = ps.rank(method=m)
        pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False)
    got = s.rank(ascending=False).to_pandas()
    exp = ps.rank(ascending=False)
    pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False)


def test_drop_duplicates(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "b", "a", "c", "b"], "g": [1, 1, 1, 2, 2], "v": [10, 20, 30, 40, 50]}
    )
    sf2 = from_pandas(spark, pdf)
    got = sf2.drop_duplicates(subset=["k"]).to_pandas().sort_index()
    exp = pdf.drop_duplicates(subset=["k"]).sort_index()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    got = sf2.drop_duplicates(subset=["k"], keep="last").to_pandas().sort_index()
    exp = pdf.drop_duplicates(subset=["k"], keep="last").sort_index()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    # series flavor
    sv = from_pandas(spark, pd.Series([3, 1, 3, 2, 1], name="x").to_frame())["x"]
    got = sv.drop_duplicates().to_pandas().sort_index()
    exp = pd.Series([3, 1, 3, 2, 1], name="x").drop_duplicates().sort_index()
    assert got.tolist() == exp.tolist() and got.index.tolist() == exp.index.tolist()


def test_frame_nlargest_sample(spark):
    pdf = pd.DataFrame({"a": [5, 3, 9, 1, 7], "b": list("vwxyz")})
    sf2 = from_pandas(spark, pdf)
    # the rows come back in rank order, as pandas returns them
    got = sf2.nlargest(3, "a").to_pandas()
    exp = pdf.nlargest(3, "a")
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    got = sf2.nsmallest(2, "a").to_pandas()
    exp = pdf.nsmallest(2, "a")
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    assert 0 <= len(sf2.sample(0.5, seed=1)) <= 5


def test_series_interpolate(spark):
    rng = np.random.RandomState(21)
    ps = pd.Series(rng.randn(200), name="v")
    ps[ps.sample(60, random_state=8).index] = float("nan")
    ps.iloc[:4] = float("nan")
    ps.iloc[-4:] = float("nan")
    s = from_pandas(spark, ps.to_frame())["v"]
    got = s.interpolate().to_pandas()
    exp = ps.interpolate()
    pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False, atol=1e-12)


def test_alignment_duplicate_labels(spark):
    s1 = pd.Series([1.0, 2.0, 5.0], index=[0, 0, 1], name="a")
    s2 = pd.Series([10.0, 100.0], index=[0, 1], name="b")
    f1 = from_pandas(spark, s1.to_frame())["a"]
    f2 = from_pandas(spark, s2.to_frame())["b"]
    got = (f1 + f2).to_pandas().sort_values().tolist()
    exp = (s1 + s2).sort_values().tolist()
    assert got == exp


def test_range_index_ctor(spark):
    from sdc_spark.frame.multiindex import range_index

    got = sorted(r[0] for r in range_index(spark, 3, 12, 3).collect())
    assert got == [3, 6, 9]


def test_groupby_rolling(spark):
    rng = np.random.RandomState(17)
    pdf = pd.DataFrame({"k": rng.randint(0, 3, 90), "v": rng.randn(90)})
    pdf.loc[pdf.sample(9, random_state=3).index, "v"] = float("nan")
    sf2 = from_pandas(spark, pdf)
    for m in ("sum", "mean", "std", "count", "median"):
        got = getattr(sf2.groupby("k").rolling(5, min_periods=3), m)().to_pandas()
        exp = getattr(pdf.groupby("k").rolling(5, min_periods=3), m)()["v"]
        # pandas indexes by (k, orig); ours keeps orig index + k column
        exp_flat = exp.reset_index(level=0, drop=True).sort_index()
        pd.testing.assert_series_equal(
            got["v"].sort_index(), exp_flat, check_names=False, check_dtype=False, atol=1e-9
        )


def test_groupby_rolling_moments(spark):
    """The kernels test_groupby_rolling leaves out: var, min, max and the
    power-sum skew/kurt finishers, each guarded on the shared count."""
    rng = np.random.RandomState(19)
    pdf = pd.DataFrame({"k": rng.randint(0, 3, 90), "v": rng.randn(90) * 4 + 2})
    pdf.loc[pdf.sample(9, random_state=4).index, "v"] = float("nan")
    sf2 = from_pandas(spark, pdf)
    for m in ("var", "min", "max", "skew", "kurt"):
        got = getattr(sf2.groupby("k").rolling(6, min_periods=3), m)().to_pandas()
        exp = getattr(pdf.groupby("k").rolling(6, min_periods=3), m)()["v"]
        exp_flat = exp.reset_index(level=0, drop=True).sort_index()
        pd.testing.assert_series_equal(
            got["v"].sort_index(), exp_flat, check_names=False, check_dtype=False, atol=1e-7
        )


def test_series_expanding(spark):
    rng = np.random.RandomState(19)
    ps = pd.Series(rng.randn(250), name="v")
    ps[ps.sample(30, random_state=5).index] = float("nan")
    s = from_pandas(spark, ps.to_frame())["v"]
    for m in ("count", "sum", "mean", "min", "max", "var", "std"):
        got = getattr(s.expanding(min_periods=3), m)().to_pandas()
        exp = getattr(ps.expanding(min_periods=3), m)()
        pd.testing.assert_series_equal(
            got, exp, check_names=False, check_dtype=False, atol=1e-9
        )


def test_concat_axis1(spark):
    from sdc_spark.frame.core import concat

    a = pd.DataFrame({"x": [1, 2, 3]}, index=[0, 1, 2])
    b = pd.DataFrame({"y": [10.0, 30.0]}, index=[0, 2])
    fa, fb = from_pandas(spark, a), from_pandas(spark, b)
    got = concat([fa, fb], axis=1).to_pandas()
    exp = pd.concat([a, b], axis=1)
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, check_index_type=False
    )
    # axis=0 still unions
    got0 = concat([fa, fa], axis=0).to_pandas()
    assert len(got0) == 6 and list(got0.columns) == ["x"]


def test_frame_shift_diff_cumsum_fill(spark):
    rng = np.random.RandomState(23)
    pdf = pd.DataFrame({"x": rng.randn(120), "y": rng.randn(120) * 2})
    pdf.loc[pdf.sample(15, random_state=2).index, "x"] = float("nan")
    sf2 = from_pandas(spark, pdf)
    for p in (1, 3, -2):
        got = sf2.shift(p).to_pandas()
        exp = pdf.shift(p)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
        got = sf2.diff(p).to_pandas()
        exp = pdf.diff(p)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    got = sf2.cumsum().to_pandas()
    exp = pdf.cumsum()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False, atol=1e-9)
    got = sf2.ffill().to_pandas()
    exp = pdf.ffill()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
    got = sf2.bfill().to_pandas()
    exp = pdf.bfill()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)


def test_groupby_per_row_ops(spark):
    rng = np.random.RandomState(29)
    pdf = pd.DataFrame({"k": rng.randint(0, 3, 80), "v": rng.randn(80)})
    pdf.loc[pdf.sample(12, random_state=1).index, "v"] = float("nan")
    sf2 = from_pandas(spark, pdf)
    gb, pgb = sf2.groupby("k"), pdf.groupby("k")
    for p in (1, -1):
        got = gb.shift(p).to_pandas()["v"].sort_index()
        exp = pgb["v"].shift(p).sort_index()
        pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False)
    got = gb.ffill().to_pandas()["v"].sort_index()
    exp = pgb["v"].ffill().sort_index()
    pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False)
    got = gb.bfill().to_pandas()["v"].sort_index()
    exp = pgb["v"].bfill().sort_index()
    pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False)
    got = gb.cumsum().to_pandas()["v"].sort_index()
    exp = pgb["v"].cumsum().sort_index()
    pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False, atol=1e-9)
    # numeric_only drops the string column, like pandas cumsum(numeric_only=True)
    pdf2 = pdf.assign(s=[chr(65 + i % 5) for i in range(len(pdf))])
    sf3 = from_pandas(spark, pdf2)
    got2 = sf3.groupby("k").cumsum(numeric_only=True).to_pandas()
    exp2 = pdf2.groupby("k").cumsum(numeric_only=True)
    assert "s" not in got2.columns
    pd.testing.assert_series_equal(
        got2["v"].sort_index(), exp2["v"].sort_index(),
        check_names=False, check_dtype=False, atol=1e-9,
    )


def test_context_guard_repartitions_fine_layouts(spark):
    """_ensure_min_partition_rows: a 20x10-row layout with a 50-row window
    must be re-partitioned so every partition holds >= the window length
    (boundary replication only reaches the adjacent partition)."""
    from pyspark.sql import functions as F

    from sdc_spark.operators import order as so

    df = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "20")
    try:
        part = so.range_partitioned(df, ["k"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    counts = [r["count"] for r in part.groupBy(so.PID).count().collect()]
    assert min(counts) < 50  # precondition genuinely violated before fix-up
    fixed = so._ensure_min_partition_rows(part, need=50)
    layout = [r["count"] for r in fixed.groupBy(so.PID).count().collect()]
    assert all(c >= 50 for c in layout)


def test_pct_change_fill_method_and_frame(spark):
    ps = pd.Series([1.0, 2.0, float("nan"), 4.0, 5.0, float("nan"), 8.0])
    s = from_pandas(spark, ps.to_frame("v"))["v"]
    for fm in ["pad", "bfill", None]:
        got = s.pct_change(fill_method=fm).to_pandas().reset_index(drop=True)
        exp = ps.ffill() if fm == "pad" else (ps.bfill() if fm == "bfill" else ps)
        exp = exp.pct_change(fill_method=None)
        pd.testing.assert_series_equal(got, exp, check_names=False)

    pdf = pd.DataFrame(
        {"a": [1.0, float("nan"), 3.0, 6.0], "b": [2.0, 4.0, float("nan"), 2.0]}
    )
    got = from_pandas(spark, pdf).pct_change().to_pandas().reset_index(drop=True)
    exp = pdf.ffill().pct_change(fill_method=None)
    pd.testing.assert_frame_equal(got[["a", "b"]], exp, check_names=False)


def test_negative_reverse_slices(spark):
    ps = pd.Series([10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0])
    s = from_pandas(spark, ps.to_frame("v"))["v"]
    for sl in [
        slice(-3, None),
        slice(None, -2),
        slice(-5, -1),
        slice(None, None, -1),
        slice(5, 1, -2),
        slice(-1, None, -3),
        slice(-100, None),
        slice(None, -100),
        slice(-100, None, -1),
    ]:
        got = s.iloc[sl].to_pandas().tolist()
        assert got == ps.iloc[sl].tolist(), f"slice {sl}: {got}"

    pdf = pd.DataFrame({"x": list(range(8)), "y": [i * 2.0 for i in range(8)]})
    f = from_pandas(spark, pdf)
    for sl in [slice(-4, None), slice(2, -2), slice(None, None, -2)]:
        got = f[sl].to_pandas()
        exp = pdf.iloc[sl]  # a reverse slice comes back reversed, as in pandas
        assert got["x"].tolist() == exp["x"].tolist(), f"frame slice {sl}"


def test_string_series_describe(spark):
    ps = pd.Series(["b", "a", "b", None, "c", "a", "b"])
    got = from_pandas(spark, ps.to_frame("v"))["v"].describe()
    exp = ps.describe()
    assert got["count"] == exp["count"]
    assert got["unique"] == exp["unique"]
    assert got["top"] == "b" and got["freq"] == 3


def test_series_reindex(spark):
    ps = pd.Series([1.0, 2.0, 3.0], index=[0, 1, 2])
    s = from_pandas(spark, ps.to_frame("v"))["v"]
    got = s.reindex([2, 0, 7]).to_pandas()
    exp = ps.reindex([2, 0, 7])
    assert got.tolist()[:2] == exp.tolist()[:2]
    assert pd.isna(got.tolist()[2])
    assert got.index.tolist() == [2, 0, 7]


def test_lazy_index(spark):
    ps = pd.Series([5.0, 6.0, 7.0])
    s = from_pandas(spark, ps.to_frame("v"))["v"]
    idx = s.index  # attribute access: no job yet
    assert len(idx) == 3
    assert idx == [0, 1, 2]
    assert list(idx) == [0, 1, 2]
    assert idx[1] == 1


def test_groupby_expanding(spark):
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {
            "k": [f"g{i % 3}" for i in range(60)],
            "v": rng.randn(60),
            "u": rng.randn(60) * 2,
        }
    )
    pdf.loc[pdf.sample(6, random_state=7).index, "v"] = float("nan")
    got = (
        from_pandas(spark, pdf)
        .groupby("k")
        .expanding(min_periods=3)
        .mean()
        .to_pandas()
        .reset_index(drop=True)
    )
    exp = (
        pdf.groupby("k")[["v", "u"]]
        .expanding(min_periods=3)
        .mean()
        .reset_index(level=0)
        .sort_index()
    )
    for c in ("v", "u"):
        pd.testing.assert_series_equal(
            got[c], exp[c].reset_index(drop=True), check_names=False
        )
    got_med = (
        from_pandas(spark, pdf)
        .groupby("k")
        .expanding(min_periods=2)
        .median()
        .to_pandas()
        .reset_index(drop=True)
    )
    exp_med = (
        pdf.groupby("k")[["v", "u"]]
        .expanding(min_periods=2)
        .median()
        .reset_index(level=0)
        .sort_index()
    )
    pd.testing.assert_series_equal(
        got_med["u"], exp_med["u"].reset_index(drop=True), check_names=False
    )


def test_value_counts_normalize(spark):
    ps = pd.Series(["a", "b", "a", "c", "a", "b", None, "b"])
    s = from_pandas(spark, ps.to_frame("v"))["v"]
    got = s.value_counts(normalize=True).to_pandas()
    exp = ps.value_counts(normalize=True)
    assert got.tolist() == exp.tolist()
    assert got.index.tolist() == exp.index.tolist()
    got2 = s.value_counts(normalize=True, dropna=False).to_pandas()
    exp2 = ps.value_counts(normalize=True, dropna=False)
    assert got2.tolist() == pytest.approx(exp2.tolist())


def test_frame_corr_cov_nunique_quantile(spark):
    rng = np.random.RandomState(9)
    pdf = pd.DataFrame(
        {
            "a": rng.randn(100),
            "b": rng.randn(100) * 2 + 1,
            "c": rng.randint(0, 5, 100).astype("int64"),
        }
    )
    pdf.loc[pdf.sample(10, random_state=3).index, "a"] = float("nan")
    f = from_pandas(spark, pdf)

    got_corr = f.corr()
    exp_corr = pdf.corr()
    for x in ("a", "b", "c"):
        for y in ("a", "b", "c"):
            assert got_corr.loc[x, y] == pytest.approx(exp_corr.loc[x, y], rel=1e-9)

    got_cov = f.cov()
    exp_cov = pdf.cov()
    for x in ("a", "b", "c"):
        for y in ("a", "b", "c"):
            assert got_cov.loc[x, y] == pytest.approx(exp_cov.loc[x, y], rel=1e-9)

    assert f.nunique().to_dict() == pdf.nunique().to_dict()
    assert (
        f.nunique(dropna=False).to_dict() == pdf.nunique(dropna=False).to_dict()
    )

    got_q = f.quantile(0.25)
    exp_q = pdf.quantile(0.25)
    for c in ("b", "c"):
        assert got_q[c] == pytest.approx(exp_q[c], rel=1e-9)


def test_frame_reductions_skip_nan(spark):
    pdf = pd.DataFrame(
        {"a": [1.0, float("nan"), 3.0, 5.0], "b": [2, 4, 6, 8]}
    )
    f = from_pandas(spark, pdf)
    assert f.sum()["a"] == pytest.approx(9.0)
    assert f.max()["a"] == pytest.approx(5.0)
    assert f.count()["a"] == 3
    assert f.median()["a"] == pytest.approx(3.0)
    assert f.quantile(0.5)["a"] == pytest.approx(pdf["a"].quantile(0.5))
    assert f.mean()["a"] == pytest.approx(3.0)


def test_frame_melt(spark):
    pdf = pd.DataFrame(
        {"k": ["x", "y"], "a": [1.0, 2.0], "b": [3.0, 4.0]}
    )
    got = (
        from_pandas(spark, pdf)
        .melt(["k"])
        .to_pandas()
        .sort_values(["k", "variable"])
        .reset_index(drop=True)
    )
    exp = (
        pdf.melt(["k"])
        .sort_values(["k", "variable"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["k", "variable", "value"]], exp)


def test_assign_astype_autocorr(spark):
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0, 4.0], "b": [10, 20, 30, 40]})
    f = from_pandas(spark, pdf)
    got = f.assign(c=lambda d: d["a"] + 1.0, d=lambda d: d["c"] * 2.0).to_pandas()
    exp = pdf.assign(c=lambda d: d["a"] + 1.0, d=lambda d: d["c"] * 2.0)
    pd.testing.assert_frame_equal(got[["a", "b", "c", "d"]], exp, check_dtype=False)

    cast = f.astype({"b": "float64"}).to_pandas()
    assert cast["b"].dtype == "float64"
    cast2 = f.astype("float64").to_pandas()
    assert cast2["a"].dtype == "float64" and cast2["b"].dtype == "float64"

    rng = np.random.RandomState(2)
    ps = pd.Series(rng.randn(200).cumsum())
    s = from_pandas(spark, ps.to_frame("v"))["v"]
    for lag in (1, 3):
        assert s.autocorr(lag) == pytest.approx(ps.autocorr(lag), rel=1e-9)


def test_groupby_cumcount_rank(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "b", "a", "a", "b", "b", "a"],
            "v": [3.0, 1.0, 3.0, float("nan"), 2.0, 1.0, 5.0],
        }
    )
    f = from_pandas(spark, pdf)
    got_cc = f.groupby("k").cumcount().to_pandas()["cumcount"].tolist()
    exp_cc = pdf.groupby("k").cumcount().tolist()
    assert got_cc == exp_cc
    for method in ("average", "min", "max", "dense", "first"):
        got = f.groupby("k").rank(method=method).to_pandas()["v"]
        exp = pdf.groupby("k")["v"].rank(method=method)
        assert got.fillna(-1).tolist() == exp.fillna(-1).tolist(), method
    got_d = f.groupby("k").rank(ascending=False).to_pandas()["v"]
    exp_d = pdf.groupby("k")["v"].rank(ascending=False)
    assert got_d.fillna(-1).tolist() == exp_d.fillna(-1).tolist()


def test_is_monotonic(spark):
    inc = pd.Series([1.0, 2.0, 2.0, 5.0])
    dec = pd.Series([9.0, 4.0, 4.0, 1.0])
    wob = pd.Series([1.0, 3.0, 2.0])
    nan = pd.Series([1.0, float("nan"), 3.0])
    for ps, up, dn in [(inc, True, False), (dec, False, True), (wob, False, False), (nan, False, False)]:
        s = from_pandas(spark, ps.to_frame("v"))["v"]
        assert s.is_monotonic_increasing == up
        assert s.is_monotonic_decreasing == dn


def test_str_split_join_T(spark):
    ps = pd.Series(["a b  c", "x y", " lead trail "])
    s = from_pandas(spark, ps.to_frame("v"))["v"]
    got = s.str.split().to_pandas().map(list).tolist()
    exp = ps.str.split().tolist()
    assert got == exp
    got2 = s.str.split(" ").to_pandas().map(list).tolist()
    exp2 = ps.str.split(" ").tolist()
    assert got2 == exp2
    joined = s.str.split().str.join("-").to_pandas().tolist()
    assert joined == ps.str.split().str.join("-").tolist()
    assert s.T is s


def test_series_frame_duplicated_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from sdc_spark.frame import from_pandas

    pdf = pd.DataFrame(
        {
            "k": ["a", "b", "a", "c", "b", "a", None, None],
            "v": [1, 2, 1, 3, 9, 1, 4, 4],
        }
    )
    f = from_pandas(spark, pdf)
    for keep in ("first", "last", False):
        got = f["k"].duplicated(keep=keep).to_pandas()
        exp = pdf["k"].duplicated(keep=keep)
        assert list(got) == list(exp), f"series keep={keep}"
        got_df = f.duplicated(subset=["k", "v"], keep=keep).to_pandas()
        exp_df = pdf.duplicated(subset=["k", "v"], keep=keep)
        assert list(got_df) == list(exp_df), f"frame keep={keep}"


def test_groupby_agg_spellings_match_pandas(spark):
    import pandas as pd

    from sdc_spark.frame import from_pandas

    pdf = pd.DataFrame(
        {"k": ["a", "b", "a", "b", "a"], "x": [1.0, 2.0, 3.0, 4.0, 5.0],
         "y": [10, 20, 30, 40, 50]}
    )
    f = from_pandas(spark, pdf)
    got = f.groupby("k").agg({"x": ["sum", "mean"], "y": "max"}).to_pandas()
    exp = pdf.groupby("k").agg(x_sum=("x", "sum"), x_mean=("x", "mean"), y=("y", "max"))
    assert got["x_sum"].tolist() == exp["x_sum"].tolist()
    assert got["x_mean"].tolist() == exp["x_mean"].tolist()
    assert got["y"].tolist() == exp["y"].tolist()

    got2 = f.groupby("k").agg(total=("x", "sum"), biggest=("y", "max")).to_pandas()
    exp2 = pdf.groupby("k").agg(total=("x", "sum"), biggest=("y", "max"))
    assert got2["total"].tolist() == exp2["total"].tolist()
    assert got2["biggest"].tolist() == exp2["biggest"].tolist()


def test_cut_qcut_match_pandas(spark):
    import numpy as np
    import pandas as pd

    from sdc_spark.frame import from_pandas

    rng = np.random.RandomState(7)
    s = pd.Series(rng.uniform(0, 100, 200))
    f = from_pandas(spark, s.to_frame("v"))["v"]

    bins = [0.0, 25.0, 50.0, 75.0, 100.0]
    got = f.cut(bins).to_pandas()
    exp = pd.cut(s, bins, labels=False)
    assert [(-1 if pd.isna(x) else int(x)) for x in got] == [
        (-1 if pd.isna(x) else int(x)) for x in exp
    ]

    got_lab = f.cut(bins, labels=["a", "b", "c", "d"]).to_pandas()
    exp_lab = pd.cut(s, bins, labels=["a", "b", "c", "d"])
    assert list(got_lab) == [x if isinstance(x, str) else None for x in exp_lab]

    got_q = f.qcut(4).to_pandas()
    exp_q = pd.qcut(s, 4, labels=False)
    assert got_q.tolist() == exp_q.tolist()


def test_mode_get_dummies_str_extract_match_pandas(spark):
    import pandas as pd

    from sdc_spark.frame import from_pandas

    pdf = pd.DataFrame(
        {
            "k": ["a", "b", "a", "c", "b", "a", "b"],
            "txt": ["id=12 x", "id=7", "nope", "id=303 y", "", "id=1", "id=44"],
        }
    )
    f = from_pandas(spark, pdf)

    got_mode = f["k"].mode().to_pandas()
    exp_mode = pdf["k"].mode()
    assert sorted(got_mode) == sorted(exp_mode)

    got_d = f.get_dummies("k").to_pandas()
    exp_d = pd.get_dummies(pdf, columns=["k"], dtype=int)
    for c in ("k_a", "k_b", "k_c"):
        assert got_d[c].tolist() == exp_d[c].tolist()

    got_x = f["txt"].str.extract(r"id=(\d+)").to_pandas()
    exp_x = pdf["txt"].str.extract(r"id=(\d+)")[0]
    assert [x for x in got_x] == [None if pd.isna(x) else x for x in exp_x]

    got_c = f["txt"].str.count(r"\d").to_pandas()
    exp_c = pdf["txt"].str.count(r"\d")
    assert got_c.tolist() == exp_c.tolist()


def test_groupby_filter_matches_pandas(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from sdc_spark.frame import from_pandas

    pdf = pd.DataFrame(
        {"k": ["a", "b", "a", "b", "c"], "x": [1.0, 10.0, 2.0, 20.0, 5.0]}
    )
    f = from_pandas(spark, pdf)
    got = f.groupby("k").filter(F.sum("x") > 6.0).to_pandas()
    exp = pdf.groupby("k").filter(lambda g: g.x.sum() > 6.0)
    assert sorted(got["x"].tolist()) == sorted(exp["x"].tolist())
    assert sorted(got["k"].tolist()) == sorted(exp["k"].tolist())


def test_reduction_dtype_grid_matches_pandas(spark):
    """Reference-style dtype grid: reductions across storage dtypes, with
    and without missing values (nullable extension dtypes for ints)."""
    import math

    import numpy as np
    import pandas as pd

    from sdc_spark.frame import from_pandas

    rng = np.random.RandomState(3)
    cases = {
        "int8": pd.array(rng.randint(-100, 100, 50), dtype="Int8"),
        "int32": pd.array(rng.randint(-10**6, 10**6, 50), dtype="Int32"),
        "int64": pd.array(rng.randint(-10**9, 10**9, 50), dtype="Int64"),
        "float32": rng.randn(50).astype("float32"),
        "float64": rng.randn(50) * 1e6,
        "float64_nan": np.where(rng.rand(50) < 0.3, np.nan, rng.randn(50)),
    }
    for name, arr in cases.items():
        s = pd.Series(arr)
        f = from_pandas(spark, s.to_frame("v"))["v"]
        for op in ("sum", "mean", "min", "max", "std", "count"):
            got = getattr(f, op)()
            exp = getattr(s, op)()
            if isinstance(exp, (float, np.floating)):
                exp = float(exp)  # float32 accumulations differ at 1e-7
            if isinstance(exp, float) and not math.isnan(exp):
                rel = abs(got - exp) / max(1.0, abs(exp))
                assert rel < 1e-6, f"{name}.{op}: {got} vs {exp}"
            else:
                assert got == exp or (
                    isinstance(exp, float) and math.isnan(exp) and got is None
                ), f"{name}.{op}: {got} vs {exp}"


def test_merge_indicator_matches_pandas(spark):
    import pandas as pd

    from sdc_spark.frame import from_pandas

    left = pd.DataFrame({"k": ["a", "b", "c"], "v": [1, 2, 3]})
    right = pd.DataFrame({"k": ["b", "c", "d"], "w": [20, 30, 40]})
    got = (
        from_pandas(spark, left)
        .merge(from_pandas(spark, right), on="k", how="outer", indicator=True)
        .to_pandas()
        .sort_values("k")
    )
    exp = left.merge(right, on="k", how="outer", indicator=True).sort_values("k")
    assert got["_merge"].tolist() == [str(x) for x in exp["_merge"]]


def test_series_scalar_attrs_match_pandas(spark):
    import pandas as pd

    from sdc_spark.frame import from_pandas

    cases = [
        pd.Series([1.0, 2.0, 3.0]),
        pd.Series([1.0, 2.0, 2.0]),
        pd.Series([1.0, float("nan"), 2.0]),
        pd.Series([1.0, float("nan"), float("nan")]),
        pd.Series([], dtype="float64"),
    ]
    for ps in cases:
        s = from_pandas(spark, ps.to_frame("v"))["v"]
        assert s.is_unique == ps.is_unique, ps.tolist()
        assert s.hasnans == ps.hasnans, ps.tolist()
        assert s.empty == ps.empty, ps.tolist()


def test_rank_pct_matches_pandas(spark):
    import pandas as pd

    from sdc_spark.frame import from_pandas

    ps = pd.Series([3.0, 1.0, 4.0, 1.0, float("nan"), 5.0, 3.0], name="v")
    s = from_pandas(spark, ps.to_frame())["v"]
    for method in ("average", "min", "max", "dense"):
        got = s.rank(method=method, pct=True).to_pandas()
        exp = ps.rank(method=method, pct=True)
        pd.testing.assert_series_equal(
            got, exp, check_names=False, check_dtype=False, check_index_type=False
        )


def test_fillna_dict_and_combine_first(spark):
    import pandas as pd

    from sdc_spark.frame import from_pandas

    pdf = pd.DataFrame(
        {"a": [1.0, float("nan"), 3.0], "b": [float("nan"), 2.0, float("nan")]}
    )
    f = from_pandas(spark, pdf)
    got = f.fillna({"a": 0.0}).to_pandas()
    exp = pdf.fillna({"a": 0.0})
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)

    s1 = pd.Series([1.0, float("nan"), 3.0, float("nan")])
    s2 = pd.Series([10.0, 20.0, 30.0, float("nan"), 50.0])
    g1 = from_pandas(spark, s1.to_frame("v"))["v"]
    g2 = from_pandas(spark, s2.to_frame("v"))["v"]
    got_c = g1.combine_first(g2).to_pandas()
    exp_c = s1.combine_first(s2)
    pd.testing.assert_series_equal(
        got_c, exp_c, check_names=False, check_dtype=False, check_index_type=False
    )


def test_series_expanding_quantile(spark):
    rng = np.random.RandomState(23)
    ps = pd.Series(rng.randn(400).round(1), name="v")  # ~100 distinct -> exact path
    ps[ps.sample(40, random_state=7).index] = float("nan")
    s = from_pandas(spark, ps.to_frame())["v"]
    for q, mp in ((0.5, 1), (0.25, 5), (0.9, 3)):
        got = s.expanding(min_periods=mp).quantile(q).to_pandas()
        exp = ps.expanding(min_periods=mp).quantile(q)
        pd.testing.assert_series_equal(
            got, exp, check_names=False, check_dtype=False, atol=1e-12
        )
    got = s.expanding(min_periods=2).median().to_pandas()
    exp = ps.expanding(min_periods=2).median()
    pd.testing.assert_series_equal(
        got, exp, check_names=False, check_dtype=False, atol=1e-12
    )


def test_series_expanding_quantile_approx_bound(spark):
    # > max_buckets distinct values -> approximate path with bounded rank
    # error; check the realized value error stays small for a smooth dist.
    rng = np.random.RandomState(29)
    ps = pd.Series(rng.randn(2000), name="v")
    s = from_pandas(spark, ps.to_frame())["v"]
    got = s.expanding().quantile(0.5, max_buckets=256).to_pandas()
    exp = ps.expanding().quantile(0.5)
    err = (got - exp).abs()
    assert err.iloc[50:].max() < 0.05


def test_series_ewm_mean(uncoalesced):
    """At 1 and 8 uncoalesced shuffle partitions: one carry-continuing
    segment per partition, and none."""
    rng = np.random.RandomState(31)
    ps = pd.Series(rng.randn(600) * 100, name="v")
    ps[ps.sample(50, random_state=3).index] = float("nan")
    ps.iloc[:4] = float("nan")  # leading NaNs exercise the carry seed
    for n in ("1", "8"):
        uncoalesced.conf.set("spark.sql.shuffle.partitions", n)
        s = from_pandas(uncoalesced, ps.to_frame())["v"]
        for kw in (
            dict(alpha=0.1),
            dict(alpha=0.9),
            dict(span=20),
            dict(com=5),
            dict(halflife=10),
            dict(alpha=0.001),
            dict(alpha=1.0),  # memoryless: degenerates to forward-fill carry
        ):
            got = s.ewm(**kw, min_periods=3).mean().to_pandas()
            exp = ps.ewm(**kw, min_periods=3).mean()
            np.testing.assert_allclose(
                got.to_numpy(), exp.to_numpy(), rtol=1e-9, atol=1e-12, equal_nan=True
            )


def test_series_ewm_var_std(spark):
    rng = np.random.RandomState(37)
    ps = pd.Series(rng.randn(500) * 50, name="v")
    ps[ps.sample(40, random_state=9).index] = float("nan")
    s = from_pandas(spark, ps.to_frame())["v"]
    # alpha=1 weighs one observation only: var/std are all-NaN
    for kw in (dict(alpha=0.1), dict(span=20), dict(alpha=0.8), dict(alpha=1.0)):
        for stat in ("var", "std"):
            got = getattr(s.ewm(**kw, min_periods=2), stat)().to_pandas()
            exp = getattr(ps.ewm(**kw, min_periods=2), stat)()
            np.testing.assert_allclose(
                got.to_numpy(), exp.to_numpy(), rtol=1e-7, atol=1e-10, equal_nan=True
            )
    got = s.ewm(alpha=0.2).var(bias=True).to_pandas()
    exp = ps.ewm(alpha=0.2).var(bias=True)
    np.testing.assert_allclose(
        got.to_numpy(), exp.to_numpy(), rtol=1e-7, atol=1e-10, equal_nan=True
    )


def test_series_ewm_var_first_observation_is_nan(spark):
    """One observation has no variance: pandas returns NaN there (and
    while only one valid value has been seen), not a clamped 0.0."""
    ps = pd.Series([4.0, float("nan"), 1.0, 2.5, 7.0], name="v")
    s = from_pandas(spark, ps.to_frame())["v"]
    for stat in ("var", "std"):
        got = getattr(s.ewm(alpha=0.3), stat)().to_pandas()
        exp = getattr(ps.ewm(alpha=0.3), stat)()
        np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(), rtol=1e-9, equal_nan=True)


def test_groupby_ewm(spark):
    rng = np.random.RandomState(41)
    pdf = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 300),
            "v": rng.randn(300) * 10,
            "u": rng.randn(300),
        }
    )
    pdf.loc[pdf.sample(25, random_state=2).index, "v"] = float("nan")
    sf2 = from_pandas(spark, pdf)
    for stat in ("mean", "var", "std"):
        got = getattr(sf2.groupby("k").ewm(alpha=0.3, min_periods=2), stat)().to_pandas()
        exp = getattr(pdf.groupby("k").ewm(alpha=0.3, min_periods=2), stat)()
        for c in ("v", "u"):
            exp_flat = exp[c].reset_index(level=0, drop=True).sort_index()
            np.testing.assert_allclose(
                got[c].sort_index().to_numpy(),
                exp_flat.to_numpy(),
                rtol=1e-9,
                atol=1e-12,
                equal_nan=True,
            )


def test_series_autocorr(spark):
    rng = np.random.RandomState(23)
    s = pd.Series(np.cumsum(rng.randn(200)))
    ss = from_pandas(spark, s.to_frame("x"))["x"]
    for lag in (1, 3, 10):
        assert ss.autocorr(lag) == pytest.approx(s.autocorr(lag), rel=1e-9)


def test_explode_matches_pandas(spark):
    from sdc_spark.frame.core import SparkFrame
    from sdc_spark.frame.series import IDX

    pdf = pd.DataFrame(
        {"k": [1, 2, 3, 4], "arr": [[10, 20], [], None, [30]]},
        index=[0, 1, 2, 3],
    )
    sdf = spark.createDataFrame(
        [(int(k), a, i) for i, (k, a) in enumerate(zip(pdf["k"], pdf["arr"]))],
        f"k long, arr array<long>, {IDX} long",
    )
    sf2 = SparkFrame(sdf)
    got = sf2.explode("arr").to_pandas().sort_values(["k"]).reset_index(drop=True)
    exp = pdf.explode("arr").reset_index(drop=True)
    assert got["k"].tolist() == exp["k"].tolist()
    got_vals = [np.nan if x is None or pd.isna(x) else x for x in got["arr"]]
    exp_vals = [np.nan if pd.isna(x) else x for x in exp["arr"]]
    assert got_vals == pytest.approx(exp_vals, nan_ok=True)
    # series variant keeps repeated index labels
    exp_s = pdf.set_index("k")["arr"].explode()
    ss = SparkFrame(sdf.drop(IDX).withColumnRenamed("k", IDX))["arr"].explode()
    assert sorted(ss.index.tolist()) == sorted(exp_s.index.tolist())


def test_corrwith_matches_pandas(spark):
    rng = np.random.RandomState(9)
    a = pd.DataFrame({"x": rng.randn(150), "y": rng.randn(150), "z": rng.randn(150)})
    b = pd.DataFrame({"x": a["x"] * 0.5 + rng.randn(150), "y": rng.randn(150)})
    sa, sb = from_pandas(spark, a), from_pandas(spark, b)
    got = sa.corrwith(sb)
    exp = a.corrwith(b).dropna()
    assert sorted(got.index) == sorted(exp.index)
    for c in exp.index:
        assert got[c] == pytest.approx(exp[c], rel=1e-9)


def test_query_eval_expression_strings(spark):
    pdf = pd.DataFrame(
        {"a": [1, 5, 3, 8, 2], "b": [10.0, 2.0, 7.0, 1.0, 9.0]}
    )
    sf2 = from_pandas(spark, pdf)
    for expr in ["a > 3 and b < 5", "(a > 2) & (b > 5)", "a == 3 or b == 9.0",
                 "~(a > 3)"]:
        got = sf2.query(expr).to_pandas().sort_values("a").reset_index(drop=True)
        exp = pdf.query(expr).sort_values("a").reset_index(drop=True)
        pd.testing.assert_frame_equal(got[["a", "b"]], exp, check_dtype=False)
    got = sf2.eval("c = a * b + 1").to_pandas().sort_index()
    exp = pdf.eval("c = a * b + 1")
    np.testing.assert_allclose(got["c"].to_numpy(), exp["c"].to_numpy())
    with pytest.raises(ValueError):
        sf2.eval("a + b")


def test_series_expanding_quantiles_multi(spark):
    """expanding().quantiles({...}) — several quantiles in one histogram
    scan must equal the per-q single-scan results (and pandas)."""
    rng = np.random.RandomState(31)
    ps = pd.Series(rng.randn(300).round(1), name="v")
    ps[ps.sample(30, random_state=3).index] = float("nan")
    s = from_pandas(spark, ps.to_frame())["v"]
    out = (
        s.expanding(min_periods=2)
        .quantiles({"m": 0.5, "lo": 0.1, "hi": 0.9})
        .toPandas()
        .sort_values("__index__")
        .reset_index(drop=True)
    )
    for col, q in (("m", 0.5), ("lo", 0.1), ("hi", 0.9)):
        exp = ps.expanding(min_periods=2).quantile(q)
        pd.testing.assert_series_equal(
            out[col], exp, check_names=False, check_dtype=False, atol=1e-12
        )


def test_merge_validate(spark):
    left = pd.DataFrame({"k": [1, 2, 3], "a": [10, 20, 30]})
    right = pd.DataFrame({"k": [1, 1, 2], "b": ["x", "y", "z"]})
    lf, rf = from_pandas(spark, left), from_pandas(spark, right)
    # m:m and m:1-with-unique-right pass
    assert lf.merge(rf, on="k", validate="m:m").to_pandas().shape[0] == 3
    lf.merge(from_pandas(spark, right.drop_duplicates("k")), on="k",
             validate="one_to_one")
    # 1:1 against dup right raises, matching pandas
    with pytest.raises(ValueError, match="right dataset"):
        lf.merge(rf, on="k", validate="1:1")
    with pytest.raises(ValueError, match="invalid validate"):
        lf.merge(rf, on="k", validate="bogus")


def test_udtf_sentences_matches_jvm_split(spark):
    """SentenceSplit UDTF must be row-identical to the pure-JVM
    split+posexplode form (the scale path)."""
    from pyspark.sql import functions as F

    from sdc_spark.functions import udtfs

    udtfs.register(spark)
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "norm": [
                "one two. three four! five? six",
                "no boundary here",
                "",
                "trailing dot. ",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("__udtf_t__")
    got = {
        (r.doc_id, r.sent_no, r.sentence, r.n_words)
        for r in spark.sql(
            "SELECT t.doc_id, s.* FROM __udtf_t__ t, "
            "LATERAL split_sentences(t.norm) s"
        ).collect()
    }
    jvm = (
        df.select(
            "doc_id",
            F.posexplode(
                F.filter(
                    F.split(F.trim("norm"), r"[.!?]+\s+"),
                    lambda x: F.trim(x) != "",
                )
            ).alias("sent_no", "sentence"),
        )
        .filter(F.trim("norm") != "")
        .select(
            "doc_id", "sent_no", "sentence",
            F.size(F.split("sentence", " ")).alias("n_words"),
        )
    )
    want = {
        (r.doc_id, r.sent_no, r.sentence, r.n_words) for r in jvm.collect()
    }
    assert got == want and len(got) == 6


def test_where_series_other(spark):
    """series.where(cond, other_series) — index-aligned fallback side
    (closes the last frame-API NotImplementedError outside multimodal)."""
    ps = pd.Series([1.0, 2.0, 3.0, 4.0], name="v")
    po = pd.Series([10.0, 20.0, 30.0, 40.0], name="o")
    s = from_pandas(spark, ps.to_frame())["v"]
    o = from_pandas(spark, po.to_frame())["o"]
    cond = s > 2
    got = s.where(cond, o).to_pandas()
    exp = ps.where(ps > 2, po)
    pd.testing.assert_series_equal(got, exp, check_names=False, check_dtype=False)
    got_m = s.mask(cond, o).to_pandas()
    exp_m = ps.mask(ps > 2, po)
    pd.testing.assert_series_equal(got_m, exp_m, check_names=False, check_dtype=False)


def test_interpolate_nearest_and_pad(spark):
    ps = pd.Series([float("nan"), 1.0, float("nan"), float("nan"), 4.0,
                    float("nan")], name="v")
    s = from_pandas(spark, ps.to_frame())["v"]
    got = s.interpolate(method="pad").to_pandas()
    pd.testing.assert_series_equal(
        got, ps.interpolate(method="pad"), check_names=False, check_dtype=False
    )
    # pandas' own 'nearest' needs scipy (absent here); expectation by hand:
    # pos2 ties to prev (1.0), pos3 is closer to pos4 (4.0); leading NaN
    # stays, trailing NaN ffills
    got_n = s.interpolate(method="nearest").to_pandas()
    exp_n = pd.Series([float("nan"), 1.0, 1.0, 4.0, 4.0, 4.0])
    pd.testing.assert_series_equal(
        got_n, exp_n, check_names=False, check_dtype=False
    )


def test_dropna_how_thresh(spark):
    pdf = pd.DataFrame(
        {
            "a": [1.0, None, None, 4.0],
            "b": [None, None, 3.0, 4.0],
            "c": ["x", None, None, "w"],
        }
    )
    sf = from_pandas(spark, pdf)
    for kw in ({"how": "any"}, {"how": "all"}, {"thresh": 2}, {"thresh": 2, "subset": ["a", "b"]}):
        got = sf.dropna(**kw).to_pandas().reset_index(drop=True)
        exp = pdf.dropna(**kw).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_sort_values_mixed_ascending_na_position(spark):
    pdf = pd.DataFrame(
        {"a": [2.0, None, 1.0, 2.0], "b": [1, 4, 2, 3], "c": list("wxyz")}
    )
    sf = from_pandas(spark, pdf)
    for kw in (
        {"by": ["a", "b"], "ascending": [True, False]},
        {"by": "a", "ascending": False, "na_position": "first"},
        {"by": ["a"], "na_position": "first"},
    ):
        got = sf.sort_values(**kw).to_pandas()[["a", "b", "c"]].reset_index(drop=True)
        exp = pdf.sort_values(**kw).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_sort_values_head_chain(spark):
    pdf = pd.DataFrame({"a": [5.0, 1.0, 3.0, 2.0, 4.0], "b": list("vwxyz")})
    sf = from_pandas(spark, pdf)
    got = sf.sort_values("a").head(3).to_pandas().reset_index(drop=True)
    exp = pdf.sort_values("a").head(3).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_sort_index_directions(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4]}, index=[3, 1, 2, 0])
    sf = from_pandas(spark, pdf)
    for asc in (True, False):
        got = sf.sort_index(ascending=asc).to_pandas()
        exp = pdf.sort_index(ascending=asc)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # sort_values then sort_index round-trips to index order
    got2 = sf.sort_values("a", ascending=False).sort_index().to_pandas()
    pd.testing.assert_frame_equal(
        got2, pdf.sort_values("a", ascending=False).sort_index(),
        check_dtype=False,
    )


def test_take_after_sort(spark):
    pdf = pd.DataFrame({"a": [5.0, 1.0, 3.0, 2.0]})
    sf = from_pandas(spark, pdf)
    got = sf.sort_values("a").take([0, 2]).to_pandas()
    exp = pdf.sort_values("a").take([0, 2])
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_frame_cumulative_scans(spark):
    pdf = pd.DataFrame(
        {
            "a": [1.0, float("nan"), 3.0, 2.0],
            "b": [4, 3, 2, 1],
            "s": list("wxyz"),  # non-numeric: dropped (numeric_only)
        }
    )
    sf = from_pandas(spark, pdf)
    for m in ("cumsum", "cummax", "cummin"):
        got = getattr(sf, m)().to_pandas()
        exp = getattr(pdf[["a", "b"]], m)()
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_frame_shift_diff(spark):
    pdf = pd.DataFrame(
        {"a": [1.0, 2.0, 4.0, 7.0], "b": [10, 20, 40, 70], "s": list("wxyz")}
    )
    sf = from_pandas(spark, pdf)
    for p in (1, 2, -1):
        got = sf.shift(p).to_pandas()
        exp = pdf.shift(p)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
        got_d = sf.diff(p).to_pandas()
        exp_d = pdf[["a", "b"]].diff(p)
        pd.testing.assert_frame_equal(got_d, exp_d, check_dtype=False)
    got_f = sf.shift(1, fill_value=0).to_pandas()
    exp_f = pdf.shift(1, fill_value=0)
    # engine casts the fill to each column's type (string column -> "0");
    # pandas keeps a mixed object column — align for comparison
    exp_f["s"] = exp_f["s"].astype(str)
    pd.testing.assert_frame_equal(got_f, exp_f, check_dtype=False)


def test_frame_cumsum_nullable_int(spark):
    pdf = pd.DataFrame({"n": pd.array([1, None, 3, None, 5], dtype="Int64")})
    sf = from_pandas(spark, pdf)
    got = sf.cumsum().to_pandas()["n"]
    exp = pdf["n"].cumsum()
    assert got.isna().tolist() == exp.isna().tolist()
    assert got.dropna().astype(int).tolist() == exp.dropna().astype(int).tolist()


def test_scans_honor_sorted_row_order(spark):
    """sort_values(...).cumsum()/shift()/diff()/ffill() must compute in the
    SORTED row order, exactly as pandas does (not the pre-sort index
    order)."""
    pdf = pd.DataFrame(
        {
            "a": [5.0, 1.0, float("nan"), 3.0, 2.0, 4.0],
            "b": [10, 60, 20, 50, 30, 40],
        }
    )
    sf = from_pandas(spark, pdf)
    srt = sf.sort_values("a")
    psrt = pdf.sort_values("a")
    for m in ("cumsum", "cummax", "cummin"):
        got = getattr(srt, m)().to_pandas()
        exp = getattr(psrt, m)()
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    pd.testing.assert_frame_equal(
        srt.shift(1).to_pandas(), psrt.shift(1), check_dtype=False
    )
    pd.testing.assert_frame_equal(
        srt.diff(1).to_pandas(), psrt.diff(1), check_dtype=False
    )
    pd.testing.assert_frame_equal(
        srt.ffill().to_pandas(), psrt.ffill(), check_dtype=False
    )
    pd.testing.assert_frame_equal(
        srt.pct_change().to_pandas(), psrt.pct_change(), check_dtype=False
    )


def test_take_request_order_duplicates_negatives(spark):
    pdf = pd.DataFrame({"a": [10.0, 11.0, 12.0, 13.0, 14.0]})
    sf = from_pandas(spark, pdf)
    # requested order preserved (not frame order), duplicates preserved
    got = sf.take([3, 0, 3, 1]).to_pandas()
    exp = pdf.take([3, 0, 3, 1])
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # negatives resolve against len(self)
    got_n = sf.take([-1, -5, 2]).to_pandas()
    exp_n = pdf.take([-1, -5, 2])
    pd.testing.assert_frame_equal(got_n, exp_n, check_dtype=False)
    # out-of-bounds raises eagerly, like pandas
    with pytest.raises(IndexError):
        sf.take([0, 99])
    with pytest.raises(IndexError):
        sf.take([-6])


def test_query_eval_quote_safety(spark):
    pdf = pd.DataFrame(
        {"a": [1, 2, 3, 4], "s": ["A&B", "C|D", "x", "A&B"]}
    )
    sf = from_pandas(spark, pdf)
    # string literal containing & / | must pass through intact
    got = sf.query("s == 'A&B'").to_pandas()
    exp = pdf.query("s == 'A&B'")
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    got2 = sf.query("(s == 'C|D') | (a == 1)").to_pandas()
    exp2 = pdf.query("(s == 'C|D') | (a == 1)")
    pd.testing.assert_frame_equal(got2, exp2, check_dtype=False)
    # python in-list becomes a SQL tuple
    got3 = sf.query("a in [2, 4]").to_pandas()
    exp3 = pdf.query("a in [2, 4]")
    pd.testing.assert_frame_equal(got3, exp3, check_dtype=False)
    # @variable interpolation rejected with a clear error
    with pytest.raises(ValueError, match="@variable"):
        sf.query("a == @x")
    # eval: split at the assignment '=', not a comparison '=='
    got4 = sf.eval("flag = a >= 3").to_pandas()
    exp4 = pdf.eval("flag = a >= 3")
    pd.testing.assert_frame_equal(
        got4[["a", "flag"]], exp4[["a", "flag"]], check_dtype=False
    )
    # quoted '=' in a literal is not a split point
    got5 = sf.eval("e = s == 'A&B'").to_pandas()
    exp5 = pdf.eval("e = s == 'A&B'")
    pd.testing.assert_frame_equal(
        got5[["a", "e"]], exp5[["a", "e"]], check_dtype=False
    )


def test_to_numeric_to_datetime(spark):
    from sdc_spark.frame import to_datetime, to_numeric

    pdf = pd.DataFrame(
        {
            "d": ["02/01/2024 10:30:00", "15/03/2024 23:59:59", None],
            "iso": ["2024-01-02 10:30:00", "2024-03-15 23:59:59", None],
            "n": ["1.5", "abc", None],
            "i": ["7", "42", None],
        }
    )
    sf = from_pandas(spark, pdf)
    got = to_datetime(sf["d"], format="%d/%m/%Y %H:%M:%S").to_pandas()
    exp = pd.to_datetime(pdf["d"], format="%d/%m/%Y %H:%M:%S")
    pd.testing.assert_series_equal(got, exp, check_names=False)
    # default (no format) parses ISO-ish strings
    got_iso = to_datetime(sf["iso"]).to_pandas()
    pd.testing.assert_series_equal(
        got_iso, pd.to_datetime(pdf["iso"]), check_names=False
    )
    # coerce nulls the unparseable cell; raise raises like pandas
    got_n = to_numeric(sf["n"], errors="coerce").to_pandas()
    exp_n = pd.to_numeric(pdf["n"], errors="coerce")
    pd.testing.assert_series_equal(got_n, exp_n, check_names=False)
    with pytest.raises(ValueError, match="abc"):
        to_numeric(sf["n"], errors="raise")
    with pytest.raises(ValueError):
        to_datetime(sf["n"], format="%d/%m/%Y", errors="raise")
    got_i = to_numeric(sf["i"], downcast="integer").to_pandas()
    assert got_i.dropna().tolist() == [7, 42]


def test_series_corr_spearman(spark):
    """Spearman == pearson over average ranks of the pair-dropped subset
    (pandas' rule; expected value built from pandas ranks since scipy is
    absent here)."""
    rng = np.random.RandomState(5)
    p = pd.DataFrame(
        {"x": rng.randn(200).round(1), "y": rng.randn(200).round(1)}
    )
    p.loc[p.sample(20, random_state=1).index, "x"] = np.nan
    s = from_pandas(spark, p)
    pairs = p.dropna()
    exp = pairs["x"].rank().corr(pairs["y"].rank())
    got = s["x"].corr(s["y"], method="spearman")
    assert got == pytest.approx(exp, abs=1e-12)
    with pytest.raises(ValueError):
        s["x"].corr(s["y"], method="kendall")


def test_groupby_ewm_dominant_group(uncoalesced):
    """A mega-group (80% of rows) must SPLIT across range partitions and
    flow through the carry composition of order.scan_ewm — the scale
    shape where a hash-one-group-per-batch path would concentrate all its
    rows in one Arrow batch. At 8 uncoalesced shuffle partitions the
    group straddles several boundaries; at 1 it straddles none."""
    rng = np.random.RandomState(7)
    k = np.where(rng.rand(5000) < 0.8, 3, rng.randint(0, 3, 5000))
    pdf = pd.DataFrame({"k": k, "v": rng.randn(5000) * 5, "u": rng.randn(5000)})
    pdf.loc[pdf.sample(400, random_state=3).index, "v"] = float("nan")
    for n in ("1", "8"):
        uncoalesced.conf.set("spark.sql.shuffle.partitions", n)
        sf2 = from_pandas(uncoalesced, pdf)
        for stat in ("mean", "var", "std"):
            got = getattr(sf2.groupby("k").ewm(alpha=0.15, min_periods=1), stat)().to_pandas()
            exp = getattr(pdf.groupby("k").ewm(alpha=0.15, min_periods=1), stat)()
            for c in ("v", "u"):
                exp_flat = exp[c].reset_index(level=0, drop=True).sort_index()
                np.testing.assert_allclose(
                    got[c].sort_index().to_numpy(),
                    exp_flat.to_numpy(),
                    rtol=1e-8,
                    atol=1e-10,
                    equal_nan=True,
                )


def test_groupby_ewm_alpha_one(spark):
    """alpha=1 degenerates to per-group last-valid carry (mean) and
    all-NaN (var/std) — pandas semantics."""
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"k": rng.randint(0, 4, 200), "v": rng.randn(200)})
    pdf.loc[pdf.sample(30, random_state=5).index, "v"] = float("nan")
    sf2 = from_pandas(spark, pdf)
    got = sf2.groupby("k").ewm(alpha=1.0, min_periods=1).mean().to_pandas()
    exp = pdf.groupby("k").ewm(alpha=1.0, min_periods=1).mean()["v"]
    exp_flat = exp.reset_index(level=0, drop=True).sort_index()
    np.testing.assert_allclose(
        got["v"].sort_index().to_numpy(), exp_flat.to_numpy(),
        rtol=1e-12, equal_nan=True,
    )
    got_v = sf2.groupby("k").ewm(alpha=1.0).var().to_pandas()
    exp_v = pdf.groupby("k").ewm(alpha=1.0).var()["v"]
    exp_v_flat = exp_v.reset_index(level=0, drop=True).sort_index()
    np.testing.assert_allclose(
        got_v["v"].sort_index().to_numpy(), exp_v_flat.to_numpy(),
        rtol=1e-12, equal_nan=True,
    )


def test_to_numeric_downcast_lossless_rule(spark):
    """downcast='integer' follows pandas' lossless rule: all-integral,
    null-free input -> int64; a fractional value or any null keeps
    float64 (never silently nulled)."""
    from sdc_spark.frame import to_numeric

    pdf = pd.DataFrame({"a": ["7", "42", "9"], "b": ["1.5", "2", "3"]})
    sf = from_pandas(spark, pdf)
    got_a = to_numeric(sf["a"], downcast="integer").to_pandas()
    exp_a = pd.to_numeric(pdf["a"], downcast="integer")
    assert got_a.tolist() == exp_a.tolist()
    assert str(got_a.dtype).startswith("int")
    got_b = to_numeric(sf["b"], downcast="integer").to_pandas()
    exp_b = pd.to_numeric(pdf["b"], downcast="integer")
    np.testing.assert_allclose(got_b.to_numpy(), exp_b.to_numpy(dtype="float64"))
    assert str(got_b.dtype).startswith("float")


def test_strftime_literal_percent():
    """'%%' is a literal percent, scanned once left-to-right: '%Y%%m' is
    yyyy + literal '%m' (the old sequential-replace turned it into a
    month pattern), and a trailing bare '%' raises."""
    from sdc_spark.functions.conversion import strftime_to_java

    assert strftime_to_java("%Y-%m-%d") == "yyyy-MM-dd"
    assert strftime_to_java("%%") == "%"
    assert strftime_to_java("%Y%%m") == "yyyy'%m'"
    assert strftime_to_java("%d/%m/%Y %H:%M:%S") == "dd/MM/yyyy HH:mm:ss"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="trailing"):
        strftime_to_java("%Y%")
    with _pytest.raises(ValueError, match="unsupported"):
        strftime_to_java("%Q")


def test_expensive_plan_regex_matches_nodes_not_identifiers(spark):
    """_single_execution's expensive-node check must key on tree positions,
    not substrings: a cheap projection whose COLUMN is named 'Join' or
    'Window' must not force a materialize, while a real join/aggregate
    must."""
    from pyspark.sql import functions as F

    from sdc_spark.functions.conversion import _EXPENSIVE_PLAN_RE

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    cheap = spark.range(5).select(
        F.col("id").alias("Join"), (F.col("id") * 2).alias("Window")
    )
    assert not _EXPENSIVE_PLAN_RE.search(plan(cheap))
    joined = cheap.join(
        spark.range(5).select(F.col("id").alias("k")), F.col("Join") == F.col("k")
    )
    assert _EXPENSIVE_PLAN_RE.search(plan(joined))
    assert _EXPENSIVE_PLAN_RE.search(plan(cheap.groupBy("Join").count()))


def test_expanding_skips_nan_that_opens_a_partition(uncoalesced):
    """Expanding sum/mean/std must carry the running statistic through a
    NaN row even when that row opens a range partition: the answer may
    not depend on where the partitioner cut (NaN every 5th row lands on
    partition starts at 8 partitions)."""
    ps = pd.Series([float("nan") if i % 5 == 0 else float(i) for i in range(40)], name="v")
    s = from_pandas(uncoalesced, ps.to_frame())["v"]
    for m in ("sum", "mean", "std"):
        got = getattr(s.expanding(min_periods=1), m)().to_pandas()
        exp = getattr(ps.expanding(min_periods=1), m)()
        pd.testing.assert_series_equal(
            got, exp, check_names=False, check_dtype=False, check_index_type=False, atol=1e-9
        )


def test_nullable_int_cum_scans_emit_na_at_na_rows(uncoalesced):
    """Int64 cumsum/cummax/cummin/cumprod: NA rows stay NA (pandas skipna)
    and do not advance the scan — at every partition count."""
    ps = pd.Series(
        pd.array([None if i % 5 == 0 else (i % 3) + 1 for i in range(40)], dtype="Int64"),
        name="v",
    )
    s = from_pandas(uncoalesced, ps.to_frame())["v"]
    for m in ("cumsum", "cummax", "cummin", "cumprod"):
        got = getattr(s, m)().to_pandas()
        exp = getattr(ps, m)()
        np.testing.assert_array_equal(
            got.to_numpy(dtype="float64", na_value=np.nan),
            exp.to_numpy(dtype="float64", na_value=np.nan),
            err_msg=m,
        )


def _sorted(o):
    return o.sort_values("a") if hasattr(o, "columns") else o.sort_values()


def _topk(o, how, n):
    return getattr(o, how)(n, "a") if hasattr(o, "columns") else getattr(o, how)(n)


# each case runs on the Series a and on the one-column frame [a]
_ONE_COLUMN_CASES = {
    "sorted_head": lambda o: _sorted(o).head(3),
    "sorted_shift": lambda o: _sorted(o).shift(1),
    "sorted_cumsum": lambda o: _sorted(o).cumsum(),
    "sorted_diff": lambda o: _sorted(o).diff(),
    "sorted_ffill": lambda o: _sorted(o).ffill(),
    "sorted_take": lambda o: _sorted(o).take([0, 1]),
    **{r: (lambda o, r=r: getattr(o, r)()) for r in (
        "sum", "mean", "max", "std", "var", "median", "prod", "describe"
    )},
    "quantile": lambda o: o.quantile(0.5),
    "nlargest": lambda o: _topk(o, "nlargest", 3),
    "nsmallest": lambda o: _topk(o, "nsmallest", 5),
}


@pytest.fixture(scope="module")
def nan_column(spark):
    """7 rows whose column a holds NaN values made by computation (from
    pandas they would arrive as nulls): a = x where x <= 5, else NaN."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"x": [5.0, 9.0, 3.0, 8.0, 4.0, 7.0, 6.0]})
    pdf["a"] = pdf["x"].where(pdf["x"] <= 5)
    a = F.when(F.col("x") <= 5, F.col("x")).otherwise(F.lit(float("nan")))
    return from_pandas(spark, pdf[["x"]]).assign(a=a)[["a"]], pdf[["a"]]


@pytest.mark.parametrize("case", list(_ONE_COLUMN_CASES))
def test_series_and_one_column_frame_match_pandas(nan_column, case):
    """A Series and a one-column frame run one kernel per method, so both
    must give pandas' answer: order ops in the sorted row order,
    reductions and describe skipping NaN, top-k in rank order with NaN
    last."""
    sf, pdf = nan_column
    fn = _ONE_COLUMN_CASES[case]
    for got, exp in ((fn(sf["a"]), fn(pdf["a"])), (fn(sf), fn(pdf))):
        got = got.to_pandas() if hasattr(got, "to_pandas") else got
        if isinstance(exp, pd.DataFrame):
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)
        elif isinstance(exp, pd.Series):
            pd.testing.assert_series_equal(
                got, exp, check_dtype=False, check_names=False, check_index_type=False
            )
        else:
            assert got == pytest.approx(exp)


def test_elementwise_series_ops_keep_sorted_order(nan_column):
    """abs and a scalar op after sort_values keep the sorted row order
    (the carried rank), as pandas does."""
    sf, pdf = nan_column
    for fn in (lambda s: s.sort_values().abs(), lambda s: s.sort_values() * 2):
        pd.testing.assert_series_equal(
            fn(sf["a"]).to_pandas(), fn(pdf["a"]),
            check_dtype=False, check_names=False, check_index_type=False,
        )


def test_groupby_aggregates_skip_nan_values(spark):
    """Frame and Series groupby aggregates skip NaN values made by
    computation, as pandas does: group 1 holds one NaN and one 1.0."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"k": [1, 1, 2, 2, 2], "x": [1.0, 9.0, 2.0, 3.0, 2.0]})
    pdf["a"] = pdf["x"].where(pdf["x"] <= 5)
    a = F.when(F.col("x") <= 5, F.col("x")).otherwise(F.lit(float("nan")))
    sf = from_pandas(spark, pdf[["k", "x"]]).assign(a=a)[["k", "a"]]
    pdf = pdf[["k", "a"]]
    for agg in ("sum", "count", "mean", "min", "max", "std", "median", "prod"):
        got = getattr(sf.groupby("k"), agg)().to_pandas()
        exp = getattr(pdf.groupby("k"), agg)()
        pd.testing.assert_frame_equal(
            got, exp, check_dtype=False, check_names=False, check_index_type=False, obj=agg
        )
        got = getattr(sf["a"].groupby(sf["k"]), agg)().to_pandas()
        exp = getattr(pdf["a"].groupby(pdf["k"]), agg)()
        pd.testing.assert_series_equal(
            got, exp, check_dtype=False, check_names=False, check_index_type=False, obj=agg
        )
