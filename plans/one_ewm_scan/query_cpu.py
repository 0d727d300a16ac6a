"""Engine CPU seconds per run of registry queries, for a parent/change
A/B: one process runs each named query once to warm up, then ``--runs``
timed runs, and prints one JSON line of each query's median CPU seconds
per run. CPU is this Python process plus its JVM, read from the two
processes' CPU clocks as perfbench reads them.

Usage (run from the checkout to measure; alternate the two checkouts):
    python plans/one_ewm_scan/query_cpu.py <sf_dir> <query> [query ...] [--runs=N]
"""

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.getcwd())

import sdc_spark.plans.all  # noqa: E402,F401
from sdc_spark.plans.registry import QUERIES  # noqa: E402
from sdc_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = next((int(a.split("=")[1]) for a in sys.argv[1:] if a.startswith("--runs=")), 5)
    sf_dir, names = args[0], args[1:]
    spark = get_spark("query_cpu")
    from pyspark import SparkContext

    jvm_clk = (~SparkContext._gateway.proc.pid << 3) | 2  # CPUCLOCK_SCHED of the JVM

    def cpu() -> float:
        return time.process_time() + time.clock_gettime(jvm_clk)

    out = {}
    for name in names:
        fn = QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        per = []
        for _ in range(runs):
            c0 = cpu()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            per.append(cpu() - c0)
        out[name] = round(statistics.median(per), 4)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
