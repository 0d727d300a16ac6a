"""Parent/change output comparison for the queries that run on the
order machinery (prefix scans, shifts, decay scans).

    python compare_outputs.py dump <checkout> <out.pkl> <sf_dir>
    python compare_outputs.py compare <parent.pkl> <change.pkl>

``dump`` imports ``sdc_spark`` from ``<checkout>``, runs every query in
QUERIES on ``sf_dir`` plus the SYNTHETIC decay-scan calls, and pickles
each result's ``toPandas()`` with its rows sorted by their exact value
``repr``. The synthetic calls run 40,000 rows on 4 partitions, so every
partition spans several renormalization chunks (at sf0.01 a partition
is shorter than one chunk). They include the alpha=1 memoryless branch
and, for the grouped scan, a 30,000-row group that covers whole
partitions (the carry-composition path).
``compare`` reports, per result, whether the two dumps have the same
columns, the same row count and equal values (float columns compared
with ``np.array_equal(..., equal_nan=True)``, everything else by value);
exit status 1 when any result differs.
"""

from __future__ import annotations

import pickle
import sys

QUERIES = [
    "series_ewm_mean",
    "series_ewm_var",
    "groupby_ewm_mean",
    "series_expanding",
    "groupby_expanding",
    "series_expanding_quantile",
    "frame_sorted_cumsum",
    "frame_cumsum",
    "agg_corr_spearman",
    "pack_sequences",
    "frame_shift_diff",
    "frame_pct_change",
    "window_shift_lag",
    "window_diff",
    "series_ffill",
]

SYNTHETIC = [
    "scan_ewm_a0.2",
    "scan_ewm_a1.0",
    "scan_ewm_moments_a0.2",
    "scan_ewm_grouped_var_a0.2",
]


def _synthetic(spark) -> dict:
    from pyspark.sql import functions as F

    from sdc_spark.operators import order

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    df = spark.range(40_000).select(
        F.col("id"),
        (F.col("id") >= 30_000).cast("int").alias("g"),
        F.when(F.col("id") % 7 == 0, F.lit(float("nan")))
        .otherwise(F.sin(F.col("id")) * 100)
        .alias("v"),
    )
    out = {
        "scan_ewm_a0.2": order.scan_ewm(df, ["id"], "v", 0.2, "e"),
        "scan_ewm_a1.0": order.scan_ewm(df, ["id"], "v", 1.0, "e"),
        "scan_ewm_moments_a0.2": order.scan_ewm_moments(df, ["id"], "v", 0.2),
        "scan_ewm_grouped_var_a0.2": order.scan_ewm_grouped(df, ["g"], ["id"], ["v"], 0.2, "var"),
    }
    res = {k: v.toPandas() for k, v in out.items()}
    spark.conf.set("spark.sql.shuffle.partitions", saved)
    return res


def _sorted(pdf):
    rows = list(pdf.itertuples(index=False, name=None))
    order = sorted(range(len(rows)), key=lambda i: tuple(repr(v) for v in rows[i]))
    return pdf.iloc[order].reset_index(drop=True)


def dump(checkout: str, out: str, sf_dir: str) -> None:
    sys.path.insert(0, checkout)
    import sdc_spark.plans.all  # noqa: F401
    from sdc_spark.plans.registry import QUERIES as REG
    from sdc_spark.session import get_spark

    spark = get_spark("compare_outputs")
    # synthetic calls first: the range partitioner's sample seed depends
    # on the RDD id, so both checkouts must reach them with the same
    # session history for their partition cuts to agree
    res = {q: _sorted(pdf) for q, pdf in _synthetic(spark).items()}
    for q in QUERIES:
        res[q] = _sorted(REG[q](spark, sf_dir).toPandas())
        print(f"{q}: {len(res[q])} rows", flush=True)
    spark.stop()
    with open(out, "wb") as f:
        pickle.dump(res, f)


def compare(a_path: str, b_path: str) -> int:
    import numpy as np

    with open(a_path, "rb") as f:
        a = pickle.load(f)
    with open(b_path, "rb") as f:
        b = pickle.load(f)
    bad = 0
    names = QUERIES + SYNTHETIC
    for q in names:
        x, y = a[q], b[q]
        if list(x.columns) != list(y.columns) or len(x) != len(y):
            verdict = f"DIFF shape {x.shape} vs {y.shape}"
        else:
            diffs = []
            for c in x.columns:
                u, v = x[c].to_numpy(), y[c].to_numpy()
                if u.dtype.kind == "f" and v.dtype.kind == "f":
                    same = np.array_equal(u, v, equal_nan=True)
                else:
                    same = all(
                        (p is q2) or (p == q2) or (p != p and q2 != q2) for p, q2 in zip(u, v)
                    )
                if not same:
                    diffs.append(c)
            verdict = "identical" if not diffs else f"DIFF in {diffs}"
        bad += verdict != "identical"
        print(f"{q:28s} rows={len(x):>6}  {verdict}")
    print(f"{len(names) - bad}/{len(names)} identical")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1] == "dump":
        dump(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        raise SystemExit(compare(sys.argv[2], sys.argv[3]))
