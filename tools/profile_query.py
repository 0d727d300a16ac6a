"""Per-job time attribution for one registry query (guide §1: measure
first). Runs the query with the Spark event log enabled, then parses the
log into a per-job table: wall time, the job group/description, and per
stage ``busy/total`` tasks (busy: read at least one shuffle or input
record) and time — so a multi-second query can be decomposed into its
actual jobs (index writes, materializations, screens, aggregates) and an
exchange that leaves tasks idle shows, instead of being guessed at from
code.

Usage: python tools/profile_query.py <query> [sf_dir] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sdc_spark.plans.all  # noqa: F401
from sdc_spark.plans.registry import QUERIES
from sdc_spark.session import get_spark


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    runs = 1
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=")[1])

    evdir = tempfile.mkdtemp(prefix="sdc_evlog_")
    spark = get_spark(
        f"profile_{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        },
    )
    fn = QUERIES[name]
    # warm run (JIT/codegen), mirroring bench.py methodology
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription(None)

    t0 = time.time()
    for _ in range(runs):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = (time.time() - t0) / runs
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log (Spark 4 rolling format: a directory of files)
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        cand = [os.path.join(evdir, d) for d in os.listdir(evdir)]
        path = max(cand, key=os.path.getmtime)
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        files = [path]

    def lines():
        for fp in files:
            with open(fp) as f:
                yield from f

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    nonempty: dict[int, int] = {}  # stage -> tasks that read any record
    for line in lines():
        ev = json.loads(line)
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "desc": props.get("spark.job.description", "")[:90],
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif e == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            read = (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            read += (m.get("Input Metrics") or {}).get("Records Read", 0)
            nonempty[ev["Stage ID"]] = nonempty.get(ev["Stage ID"], 0) + (read > 0)
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:70],
                "tasks": si["Number of Tasks"],
                "ms": si.get("Completion Time", 0) - si.get("Submission Time", 0),
            }

    print(f"\n=== {name}: {wall:.2f}s/run (x{runs} timed, after warm) ===")
    # Jobs overlap (run_concurrently, async broadcasts), so executor time
    # is the UNION of job intervals, and a driver gap is time after the
    # running maximum job end in which no job ran.
    busy_ms = gap_ms = 0
    last_end = None
    done = sorted((kv for kv in jobs.items() if "end" in kv[1]), key=lambda kv: kv[1]["start"])
    for jid, j in done:
        ms = j["end"] - j["start"]
        gap = 0 if last_end is None else max(0, j["start"] - last_end)
        busy_ms += max(0, j["end"] - max(j["start"], last_end or 0))
        gap_ms += gap
        last_end = max(last_end or 0, j["end"])
        stg = ", ".join(
            f"{nonempty.get(s, 0)}/{stages[s]['tasks']}t/{stages[s]['ms']}ms:"
            f"{stages[s]['name'][:40]}"
            for s in j["stages"]
            if s in stages
        )
        print(
            f"job {jid:>3} {ms:>6} ms  gap {gap:>5} ms  "
            f"{j['desc'] or '-':<40} [{stg}]"
        )
    n = runs + 1
    print(
        f"jobs busy {busy_ms} ms (union of intervals) over {len(done)} jobs "
        f"= {len(done) / n:g} jobs/run (warm+timed), inter-job driver gaps {gap_ms} ms"
    )
    print(f"event log: {path}")


if __name__ == "__main__":
    main()
