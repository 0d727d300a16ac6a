"""Determinism under task retries: run the distributed scan machinery with
injected task failures (each task's first attempt dies) on a
retry-enabled master and verify results are bit-identical to the clean
run. At 100 TB task retries are routine — a scan whose output depends on
attempt scheduling corrupts silently; this probe makes that class of bug
a red exit code.

Runs in its own process because the retry policy is fixed at master
construction (`local[N, maxFailures]`).

Usage: python tools/retry_probe.py   (exit 0 = deterministic under retry)
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pandas as pd

from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> int:
    spark = (
        SparkSession.builder.appName("retry_probe")
        .master("local[8, 3]")  # allow 2 retries per task
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sdc_spark.operators import order as sorder

    n = 20_000
    base = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )

    def flaky(batches):
        ctx = TaskContext.get()
        first = True
        for pdf in batches:
            if first and ctx is not None and ctx.attemptNumber() == 0:
                raise RuntimeError("injected first-attempt failure")
            first = False
            yield pdf

    flaky_base = base.mapInPandas(flaky, "k long, v double")

    # a running sum and a forward fill (``last``) share one scan
    spec = {
        "cum": ("sum", F.col("v")),
        "fill": ("last", F.when(F.col("k") % 5 == 0, F.col("v"))),
    }
    a = sorder.scan(base, ["k"], spec).orderBy("k").toPandas()
    b = sorder.scan(flaky_base, ["k"], spec).orderBy("k").toPandas()
    pd.testing.assert_frame_equal(a, b)

    # truth: plain pandas cumsum and ffill
    assert (a["cum"] == a["v"].cumsum()).all(), "scan sum != pandas cumsum"
    want = a["v"].where(a["k"] % 5 == 0).ffill()
    assert (a["fill"] == want).all(), "scan last != pandas ffill"

    print("retry probe OK: scans bit-identical under injected task retries")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
