"""Count range partitions and Spark jobs per expanding statistic.

    python expanding_passes.py <checkout>

Imports ``sdc_spark`` from ``<checkout>``, wraps
``order.range_partitioned`` with a call counter and runs each
``Series.expanding(min_periods=1).<stat>()`` of a 1,000-row float series
(every 5th value NaN) to pandas, printing the range partitions the
statistic built and the jobs its collection ran.
"""

from __future__ import annotations

import sys


def main(checkout: str) -> None:
    sys.path.insert(0, checkout)
    import pandas as pd

    from sdc_spark.frame import from_pandas
    from sdc_spark.operators import order
    from sdc_spark.session import get_spark

    spark = get_spark("expanding_passes")
    sc = spark.sparkContext
    calls = [0]
    inner = order.range_partitioned

    def counted(*a, **kw):
        calls[0] += 1
        return inner(*a, **kw)

    order.range_partitioned = counted
    ps = pd.Series([float("nan") if i % 5 == 0 else float(i) for i in range(1000)], name="v")
    s = from_pandas(spark, ps.to_frame())["v"]
    for stat in ("count", "sum", "mean", "min", "max", "var", "std"):
        calls[0] = 0
        sc.setJobGroup(stat, stat)
        getattr(s.expanding(min_periods=1), stat)().to_pandas()
        jobs = len(sc.statusTracker().getJobIdsForGroup(stat))
        print(f"{stat:6s} range_partitions={calls[0]}  jobs={jobs}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
