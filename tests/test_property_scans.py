"""Hypothesis property tests for the distributed prefix-scan machinery
(operators/order.py) — the surface under shift/cumsum/ffill/pack: random
values with nulls/duplicate orderings must match pandas exactly under ANY
generated input, including empty series, all-null series, and heavy
duplication. Examples kept small (Spark session cost); the generator's
value is hitting the shapes humans skip. Every draw runs on 8 partitions
AQE may not coalesce (the ``uncoalesced`` fixture), so even a handful of
rows crosses range-partition boundaries — a missing value that opens a
partition is a shape the carry must handle."""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, "/root/repo")

from sdc_spark.frame import from_pandas

VAL = st.one_of(st.floats(min_value=-100, max_value=100, allow_nan=False), st.none())
VALS = st.lists(VAL, min_size=0, max_size=24)
ROWS = st.lists(st.tuples(VAL, VAL), min_size=0, max_size=24)

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frame(spark, rows):
    pdf = pd.DataFrame(
        {c: pd.array([r[i] for r in rows], dtype="Float64") for i, c in enumerate("ab")}
    ).astype("float64")
    return pdf, from_pandas(spark, pdf)


def _series(spark, vals):
    ps = pd.Series(pd.array(vals, dtype="Float64"), name="v").astype("float64")
    return ps, from_pandas(spark, ps.to_frame())["v"]


def _eq(got: pd.Series, exp: pd.Series) -> None:
    pd.testing.assert_series_equal(
        got.reset_index(drop=True),
        exp.reset_index(drop=True),
        check_names=False,
        check_dtype=False,
        atol=1e-9,
    )


@given(vals=VALS)
@_SETTINGS
def test_cumsum_matches_pandas(uncoalesced, vals):
    ps, s = _series(uncoalesced, vals)
    _eq(s.cumsum().to_pandas(), ps.cumsum())


@given(vals=VALS, periods=st.sampled_from([1, 2, 5, -1, -3]))
@_SETTINGS
def test_shift_matches_pandas(uncoalesced, vals, periods):
    ps, s = _series(uncoalesced, vals)
    _eq(s.shift(periods).to_pandas(), ps.shift(periods))


@given(vals=VALS)
@_SETTINGS
def test_ffill_matches_pandas(uncoalesced, vals):
    ps, s = _series(uncoalesced, vals)
    _eq(s.ffill().to_pandas(), ps.ffill())


@given(vals=VALS)
@_SETTINGS
def test_expanding_mean_matches_pandas(uncoalesced, vals):
    ps, s = _series(uncoalesced, vals)
    _eq(s.expanding(min_periods=1).mean().to_pandas(), ps.expanding(1).mean())


@given(vals=VALS, kind=st.sampled_from(["cummax", "cummin", "cumprod"]))
@_SETTINGS
def test_cum_scans_match_pandas(uncoalesced, vals, kind):
    ps, s = _series(uncoalesced, vals)
    _eq(getattr(s, kind)().to_pandas(), getattr(ps, kind)())


@given(rows=ROWS, periods=st.sampled_from([1, 3, -2]))
@_SETTINGS
def test_frame_cumsum_shift_match_pandas(uncoalesced, rows, periods):
    pdf, sf = _frame(uncoalesced, rows)
    got = sf.cumsum().to_pandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), pdf.cumsum().reset_index(drop=True),
        check_dtype=False, atol=1e-9,
    )
    got = sf.shift(periods).to_pandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), pdf.shift(periods).reset_index(drop=True),
        check_dtype=False,
    )


KEY = st.one_of(st.integers(-3, 3).map(float), st.just(float("nan")), st.none())
KEYED = st.lists(st.tuples(KEY, VAL), min_size=0, max_size=24)
DIRS = st.sampled_from(["asc_nulls_first", "asc_nulls_last", "desc_nulls_first", "desc_nulls_last"])


@given(rows=KEYED, direction=DIRS)
@_SETTINGS
def test_order_machinery_follows_orderby(uncoalesced, rows, direction):
    """Over keys with ties, NaN and nulls in every asc/desc x nulls
    first/last order: positions and a sum scan follow ``orderBy``, and a
    ``last`` scan (and its suffix) is pandas' ffill (bfill) in that
    order."""
    from pyspark.sql import functions as F

    from sdc_spark.operators import order as so

    df = uncoalesced.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k double, v double"
    )
    order = [getattr(F.col("k"), direction)(), getattr(F.col("id"), direction)()]
    ids = [r["id"] for r in df.orderBy(*order).collect()]
    pos = {r["id"]: r["p"] for r in so.with_position(df, order, "p").collect()}
    assert [pos[i] for i in ids] == list(range(len(ids)))

    out = so.scan(
        df,
        order,
        {
            "cs": ("sum", F.col("id")),
            "ff": ("last", F.col("v")),
            "bf": ("last", F.col("v"), "suffix"),
        },
    ).toPandas().set_index("id").loc[ids]
    assert out["cs"].tolist() == np.cumsum(ids).tolist()
    vals = pd.Series([rows[i][1] for i in ids], dtype="float64")
    _eq(out["ff"].astype("float64"), vals.ffill())
    _eq(out["bf"].astype("float64"), vals.bfill())


def test_range_partitioned_branches_agree(spark):
    """Two plan branches of one range-partitioned frame, and a second
    partitioning of the same input, assign every row the same pid; pids
    ascend in key order, are dense and non-empty, and stay below the
    shuffle partition count."""
    from pyspark.sql import functions as F

    from sdc_spark.operators import order as so

    df = spark.range(3000).select(
        "id",
        F.when(F.col("id") % 11 == 0, F.lit(None))
        .when(F.col("id") % 13 == 0, F.lit(float("nan")))
        .otherwise((F.col("id") % 50).cast("double") ** 2)
        .alias("k"),
    )
    order = [F.col("k").desc_nulls_first(), "id"]
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 7, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            part = so.range_partitioned(df, order)
            a = part.select("id", F.col(so.PID).alias("a"))
            b = part.groupBy("id").agg(F.max(so.PID).alias("b"))
            again = so.range_partitioned(df, order).select("id", F.col(so.PID).alias("c"))
            joined = a.join(b, "id").join(again, "id")
            assert joined.count() == 3000
            assert joined.filter((F.col("a") != F.col("b")) | (F.col("a") != F.col("c"))).count() == 0
            pids = [r[so.PID] for r in part.orderBy(*order).select(so.PID).collect()]
            assert pids == sorted(pids)
            assert sorted(set(pids)) == list(range(max(pids) + 1)) and max(pids) < n, (n, pids)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
