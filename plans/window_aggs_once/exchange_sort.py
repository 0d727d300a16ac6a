"""Print the Exchange and Sort operators of the evaluate-once queries'
physical plans, with exprIds, plan ids and extracted-column numbers
removed, so that a parent and a change checkout can be diffed.

    python exchange_sort.py <checkout> <sf_dir> > out.txt
"""

from __future__ import annotations

import re
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


def main(checkout: str, sf_dir: str) -> None:
    sys.path.insert(0, checkout)
    import sdc_spark.plans.all  # noqa: F401
    from sdc_spark.plans.registry import QUERIES as REG
    from sdc_spark.session import get_spark

    spark = get_spark("exchange_sort")
    for q in QUERIES:
        jplan = REG[q](spark, sf_dir)._jdf.queryExecution().executedPlan()
        for line in jplan.treeString(True, False, 2**31 - 1, False, False).splitlines():
            if re.search(r"\b(Exchange|Sort) ", line):
                body = re.sub(r"#\d+L?", "", line.strip().lstrip("+-: "))
                body = re.sub(r"_w\d+", "_w", body)
                body = re.sub(r"\[plan_id=\d+\]", "", body)
                print(q, body[:400])


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
