"""Round-11 optimization internals.

Pins the two r11 mechanisms no other test observes directly:

1. The pid-group exchanges under the Arrow order-scan passes and the
   asof carry windows are USER-SPECIFIED (REPARTITION_BY_NUM), so AQE's
   size-based coalescing can never collapse the compute-heavy per-pid
   groups onto one task again (the observed failure mode: a 10s
   single-task pass B while 31 cores idled), and the order-scan exchange
   puts pid p on task p (Murmur3 of the bare pids stacks them).
2. ``maintenance.run_concurrently`` re-raises a thunk failure after all
   threads finish (the overlapped two-table index writes depend on a
   failure never being swallowed).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401  (fixture)


def _executed_plan(df) -> str:
    from sdc_spark.materialize import plan_string

    return plan_string(df)


def test_order_scan_pid_exchange_is_pinned(spark):  # noqa: F811
    """The exchange feeding a PID-grouped Arrow pass must be a
    user-specified repartition (AQE never coalesces those), and there
    must be no second, coalescible ENSURE_REQUIREMENTS exchange on the
    pid column above it."""
    from sdc_spark.operators import order as O

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    out = O.scan_quantile(df, ["k"], "v", 0.5, "med")
    plan = _executed_plan(out)
    pid_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning(__pid__" in ln
    ]
    assert pid_exchanges, "expected a pid exchange under the Arrow pass"
    assert all("REPARTITION_BY_NUM" in ln for ln in pid_exchanges), pid_exchanges


@pytest.mark.parametrize("n", [4, 7, 8])
def test_pid_grouped_puts_each_pid_on_its_own_task(uncoalesced, n):
    """After ``_pid_grouped``'s exchange, ``spark_partition_id()`` equals
    the pid on every row, so P pids keep P tasks busy. This checks
    ``order._murmur3_int``, the Python port of Spark's Murmur3, against
    Spark's own hash partitioning."""
    from sdc_spark.operators import order as O

    uncoalesced.conf.set("spark.sql.shuffle.partitions", str(n))
    part = O.range_partitioned(uncoalesced.range(40 * n).select(F.col("id").alias("k")), ["k"])
    out = (
        O._pid_grouped(part)
        .applyInPandas(lambda pdf: pdf[[O.PID]], f"{O.PID} int")
        .select(O.PID, F.spark_partition_id().alias("task"))
        .collect()
    )
    assert len(out) == 40 * n
    assert {r[O.PID] for r in out} == set(range(n))
    assert all(r[O.PID] == r["task"] for r in out)


def test_asof_carry_window_exchange_is_pinned(spark):  # noqa: F811
    from sdc_spark.operators.asof import merge_asof

    left = spark.range(500).select(F.col("id").alias("t"), F.lit(1).alias("x"))
    right = spark.range(0, 500, 7).select(
        F.col("id").alias("t"), F.col("id").alias("y")
    )
    out = merge_asof(left, right, on="t", direction="nearest")
    plan = _executed_plan(out)
    # the CARRY-WINDOW pid exchange must be pinned; the P-row boundary
    # summaries keep their (tiny, coalescible) ENSURE exchanges
    pinned = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(__pid__" in ln and "REPARTITION_BY_NUM" in ln
    ]
    assert pinned, "expected a pinned (REPARTITION_BY_NUM) pid exchange"


def test_run_concurrently_propagates_failure(spark):  # noqa: F811
    from sdc_spark.operators.maintenance import run_concurrently

    done = []

    def ok() -> None:
        done.append(spark.range(5).count())

    def boom() -> None:
        raise ValueError("index write failed")

    with pytest.raises(ValueError, match="index write failed"):
        run_concurrently(ok, boom)
    # the healthy thunk still ran to completion before the re-raise
    assert done == [5]
