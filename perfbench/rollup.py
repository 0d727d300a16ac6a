"""Job, stage and task totals from Spark's status store, per time window.

The status store (``sc._jsc.sc().statusStore()``) keeps every job and
stage of the application even with the UI off. ``StatusStore.snapshot``
dumps both lists as JSON in one py4j round trip; ``window_rollup`` then
sums the jobs submitted inside one query's ``[t0, t1]`` window (epoch ms)
and the stages those jobs ran.

Executor time is the *union* of the jobs' ``[submission, completion]``
intervals, not their sum: jobs that overlap (``run_concurrently`` submits
several at once) occupy the executors once.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

MB = 1024 * 1024


def union_seconds(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the intervals (same unit as the input)."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusStore:
    """JSON view of the application status store of one SparkContext."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._jvm = jvm

    def snapshot(self) -> tuple[list[dict], list[dict]]:
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(
            None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList()
        )
        return (
            json.loads(self._mapper.writeValueAsString(jobs)),
            json.loads(self._mapper.writeValueAsString(stages)),
        )

    def sql_executions(self) -> int:
        return int(self._sql.executionsCount())


def window_rollup(
    jobs: list[dict], stages: list[dict], t0_ms: float, t1_ms: float
) -> dict[str, float]:
    """Totals for the jobs submitted in ``[t0_ms, t1_ms]``."""
    mine = [
        j for j in jobs
        if j.get("submissionTime") is not None and t0_ms <= j["submissionTime"] <= t1_ms
    ]
    stage_ids = {s for j in mine for s in j.get("stageIds", ())}
    ran = [
        s for s in stages
        if s["stageId"] in stage_ids and s.get("status") != "SKIPPED"
        and s.get("submissionTime") is not None
    ]
    spans = [
        (j["submissionTime"], min(j.get("completionTime") or t1_ms, t1_ms)) for j in mine
    ]

    def total(key: str) -> float:
        return float(sum(s.get(key) or 0 for s in ran))

    return {
        "exec_s": union_seconds(spans) / 1000.0,
        "jobs": float(len(mine)),
        "stages": float(len(ran)),
        "tasks": total("numCompleteTasks") + total("numFailedTasks"),
        "task_s": total("executorRunTime") / 1000.0,
        "task_cpu_s": total("executorCpuTime") / 1e9,
        "gc_s": total("jvmGcTime") / 1000.0,
        "shuffle_read_mb": total("shuffleReadBytes") / MB,
        "shuffle_write_mb": total("shuffleWriteBytes") / MB,
        "spill_mb": total("diskBytesSpilled") / MB,
        "input_mb": total("inputBytes") / MB,
        "output_mb": total("outputBytes") / MB,
    }
