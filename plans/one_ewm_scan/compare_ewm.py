"""Unrounded outputs of the three ewm queries, for a parent/change
comparison below the 4-digit rounding the registry queries apply.

Usage (run ``dump`` from each checkout, then ``compare`` anywhere):
    python plans/one_ewm_scan/compare_ewm.py dump <sf_dir> <out.pkl>
    python plans/one_ewm_scan/compare_ewm.py compare <parent.pkl> <change.pkl>
``compare`` prints, per query, how many rows are bit-identical, the
largest distance of each side from pandas, and the first differing rows
as (index, parent, change, pandas).
"""

import os
import pickle
import sys

import numpy as np

sys.path.insert(0, os.getcwd())


def dump(sf_dir: str, out: str) -> None:
    from pyspark.sql import functions as F

    from sdc_spark.frame.core import SparkFrame
    from sdc_spark.frame.series import IDX, SparkSeries
    from sdc_spark.session import get_spark
    from sdc_spark.sources.readers import read_table

    spark = get_spark("compare_ewm")
    events = read_table(spark, sf_dir, "events")
    ev = events.filter(F.col("event_id") < 5000).select(
        F.col("event_id").alias(IDX), F.col("value").alias("v")
    )
    s = SparkSeries.from_column(ev, "v", index_col=IDX)
    grouped = events.select(F.col("event_id").alias(IDX), "user_id", "value")
    res = {
        "series_input": ev.toPandas(),
        "groupby_input": grouped.toPandas(),
        "series_ewm_mean": s.ewm(alpha=0.02).mean().to_pandas(),
        "series_ewm_var": s.ewm(alpha=0.02).var().to_pandas(),
        "groupby_ewm_mean": SparkFrame(grouped)
        .groupby("user_id")
        .ewm(alpha=0.1, min_periods=1)
        .mean()
        ._df.toPandas(),
    }
    with open(out, "wb") as f:
        pickle.dump(res, f)
    spark.stop()


def _report(name: str, idx, a, b, e) -> None:
    same = (a == b) | (np.isnan(a) & np.isnan(b))
    print(
        f"{name}: {len(a)} rows, {int(same.sum())} bit-identical; "
        f"max |parent - pandas| {np.nanmax(np.abs(a - e)):.3g}, "
        f"max |change - pandas| {np.nanmax(np.abs(b - e)):.3g}"
    )
    for i in np.flatnonzero(~same)[:5]:
        print(f"  index {idx[i]}: parent {a[i]!r} change {b[i]!r} pandas {e[i]!r}")


def compare(parent: str, change: str) -> None:
    with open(parent, "rb") as f:
        a = pickle.load(f)
    with open(change, "rb") as f:
        b = pickle.load(f)
    inp = a["series_input"].sort_values("__index__")
    ps = inp.set_index("__index__")["v"].astype("float64")
    for name, exp in (
        ("series_ewm_mean", ps.ewm(alpha=0.02).mean()),
        ("series_ewm_var", ps.ewm(alpha=0.02).var()),
    ):
        pa, pb = a[name].sort_index(), b[name].sort_index()
        _report(name, pa.index, pa.to_numpy(), pb.to_numpy(), exp.to_numpy())
    gi = a["groupby_input"].sort_values("__index__").reset_index(drop=True)
    exp = gi.groupby("user_id")["value"].transform(
        lambda v: v.ewm(alpha=0.1, min_periods=1).mean()
    )
    ga, gb = (
        d["groupby_ewm_mean"].sort_values("__index__").reset_index(drop=True) for d in (a, b)
    )
    _report(
        "groupby_ewm_mean",
        gi["__index__"],
        ga["value"].to_numpy(),
        gb["value"].to_numpy(),
        exp.to_numpy(),
    )


if __name__ == "__main__":
    if sys.argv[1] == "dump":
        dump(sys.argv[2], sys.argv[3])
    else:
        compare(sys.argv[2], sys.argv[3])
