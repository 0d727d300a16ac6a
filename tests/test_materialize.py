"""The materialize() primitive: mode-independent correctness.

Operators that read one intermediate from several plan branches share a
single computation of it through materialize()/materialize_lazy(); these
tests flip the session mode config and pin that a cross-partition scan
query returns bit-identical results under localCheckpoint / persist /
checkpoint.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sdc_spark.materialize import DIR_KEY, MODE_KEY, materialize, materialize_lazy
from sdc_spark.frame.core import from_pandas


def _scan_result(spark) -> pd.DataFrame:
    """A cross-partition pipeline: distributed cumsum + shift over a
    range-partitioned frame (exercises range_partitioned ->
    materialize_lazy)."""
    pdf = pd.DataFrame(
        {"k": [i % 7 for i in range(5000)], "v": [float(i % 113) for i in range(5000)]}
    )
    sf = from_pandas(spark, pdf)
    out = pd.DataFrame(
        {
            "cum": sf["v"].cumsum().to_pandas(),
            "sh": sf["v"].shift(3).to_pandas(),
        }
    )
    return out.reset_index(drop=True)


@pytest.fixture()
def _restore_mode(spark):
    prev = spark.conf.get(MODE_KEY, "localCheckpoint")
    yield
    spark.conf.set(MODE_KEY, prev)


def test_modes_bit_identical(spark, tmp_path, _restore_mode):
    spark.conf.set(MODE_KEY, "localCheckpoint")
    base = _scan_result(spark)
    spark.conf.set(MODE_KEY, "persist")
    p = _scan_result(spark)
    pd.testing.assert_frame_equal(base, p)
    spark.conf.set(MODE_KEY, "checkpoint")
    spark.conf.set(DIR_KEY, str(tmp_path / "ck"))
    c = _scan_result(spark)
    pd.testing.assert_frame_equal(base, c)


def _lazy_then_action(df):
    out = materialize_lazy(df)
    out.count()  # the one action the materialize_lazy contract requires
    return out


def test_materialize_is_eager_and_stable(spark, _restore_mode):
    # rand() would differ per re-execution; materialize pins one sample
    for mode in ("localCheckpoint", "persist"):
        for pin in (materialize, _lazy_then_action):
            spark.conf.set(MODE_KEY, mode)
            df = pin(spark.range(1000).select("id", F.rand(seed=None).alias("r")))
            a = df.agg(F.sum("r")).collect()[0][0]
            b = df.agg(F.sum("r")).collect()[0][0]
            assert a == b, (mode, pin.__name__)


def test_invalid_mode_raises(spark, _restore_mode):
    spark.conf.set(MODE_KEY, "bogus")
    with pytest.raises(ValueError, match="bogus"):
        materialize(spark.range(3))
