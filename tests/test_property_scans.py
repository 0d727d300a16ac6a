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
