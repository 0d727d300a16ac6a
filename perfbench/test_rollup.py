"""Unit tests of the status-store rollup (no Spark needed).

    python3 -m pytest perfbench/test_rollup.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rollup import union_seconds, window_rollup  # noqa: E402


def test_union_of_overlapping_intervals_counts_shared_time_once():
    # two jobs submitted together by run_concurrently: [0, 10] and [2, 8]
    # occupy the executors for 10 units, not the 16 their sum gives
    assert union_seconds([(0, 10), (2, 8)]) == 10
    # partial overlap chains merge; a disjoint job adds its own length
    assert union_seconds([(5, 12), (0, 6), (20, 25)]) == 17
    # touching intervals merge; empty and inverted ones add nothing
    assert union_seconds([(0, 3), (3, 4), (7, 7), (9, 8)]) == 4
    assert union_seconds([]) == 0


def _job(jid, t0, t1, stage_ids):
    return {"jobId": jid, "submissionTime": t0, "completionTime": t1, "stageIds": stage_ids}


def _stage(sid, status="COMPLETE", run_ms=0, tasks=1, t0=1):
    return {
        "stageId": sid, "status": status, "submissionTime": t0,
        "executorRunTime": run_ms, "numCompleteTasks": tasks, "numFailedTasks": 0,
        "shuffleReadBytes": 1024 * 1024,
    }


def test_window_rollup_uses_union_and_only_the_window_jobs():
    jobs = [
        _job(0, 1000, 2000, [0]),  # concurrent pair inside the window
        _job(1, 1100, 1900, [1, 2]),
        _job(2, 5000, 6000, [3]),  # after the window
    ]
    stages = [
        _stage(0, run_ms=4000, tasks=4),
        _stage(1, run_ms=2000, tasks=2),
        _stage(2, status="SKIPPED", t0=None),
        _stage(3, run_ms=9000),
    ]
    r = window_rollup(jobs, stages, 900, 2500)
    assert r["exec_s"] == 1.0  # union of [1.0, 2.0] and [1.1, 1.9]
    assert r["jobs"] == 2
    assert r["stages"] == 2  # the skipped stage did not run
    assert r["tasks"] == 6
    assert r["task_s"] == 6.0
    assert r["shuffle_read_mb"] == 2.0


def test_window_rollup_clips_a_job_still_running_at_the_window_end():
    r = window_rollup([_job(0, 1000, None, [])], [], 0, 1500)
    assert r["exec_s"] == 0.5
