"""Parent/change output comparison for the queries whose window
aggregates are evaluated once (operators/rolling.py over_once).

    python compare_outputs.py dump <checkout> <out.pkl> <sf_dir>
    python compare_outputs.py compare <parent.pkl> <change.pkl>

``dump`` imports ``sdc_spark`` from ``<checkout>``, runs every query in
QUERIES on ``sf_dir`` and pickles each result's ``toPandas()`` with its
rows sorted by their exact value ``repr``. ``compare`` reports, per
query, whether the two dumps have the same columns, the same row count
and bit-identical values (float columns compared with
``np.array_equal(..., equal_nan=True)``, everything else by value); exit
status 1 when any result differs.
"""

from __future__ import annotations

import pickle
import sys

QUERIES = [
    "rolling_basic",
    "rolling_stats",
    "rolling_corr_cov",
    "rolling_skew_kurt",
    "groupby_transform",
    "stream_anomaly_zscore",
    "frame_rolling_api",
]


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
    res = {}
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
    for q in QUERIES:
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
    print(f"{len(QUERIES) - bad}/{len(QUERIES)} identical")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1] == "dump":
        dump(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        raise SystemExit(compare(sys.argv[2], sys.argv[3]))
