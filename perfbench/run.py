#!/usr/bin/env python3
"""Closed-loop, oracle-checked benchmark of the sdc_spark engine.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

One invocation runs one workload (``perfbench/workloads.py``) in this fresh
process on ``local[nproc]`` over the fixed sf0.01 tables in
``perfbench/data/``: it sets the engine up, then runs passes over the
workload's operations — one driver thread, the next operation submitted
only after the previous one returned: a cold pass, a warm-up pass, then
measured passes until they add up to ``--seconds`` (at least two). The
tables are fixed, so the seed only names the run. Every output is hashed
and checked against the query's DuckDB oracle, outside the timed region.
``setup_s`` runs from the start of this process to the engine being ready.
The pass metrics are CPU seconds of the engine (this process and its JVM),
scaled by a canary to the reference host's speed (``Canary``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
package's public functions and py4j, runs untraced and traced warm passes
in turn, and prints the per-layer metrics. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Everything the
run writes goes under ``.perfbench/`` in the checkout; the work directory
is removed at exit and the traced run's spans stay in ``.perfbench/out``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

MIN_MEASURED_PASSES = 2
OP_TIMEOUT_S = 60.0  # watchdog: cancel the jobs of an operation past this
PASS_BUDGET_S = 100.0  # no new pass after this much process time
DRIVER_MEM_MB = 1536
SETTLE_S = 0.1
REGISTRY_ROOT_PREFIX = "/tmp/sdc_spark_"
CANARY_LOOP = 300_000
CANARY_SORT_N = 2_000_000
CANARY_REF_S = 0.065  # one canary's CPU time on the reference host (README)


def _proc_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime_s = float(f.read().split()[0])
    return uptime_s - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE_OFFSET_S = _proc_age_s() - time.perf_counter()


def _since_process_start() -> float:
    return time.perf_counter() + _AGE_OFFSET_S


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem_mb() -> int:
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return min(DRIVER_MEM_MB, phys_mb // 2)


class Layout:
    """Every path the run writes, all under ``.perfbench/`` in the checkout."""

    def __init__(self, workload: str, seed: int) -> None:
        base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(base, f"work-{os.getpid()}")
        self.out = os.path.join(base, "out")
        self.local = os.path.join(self.work, "local")
        self.tmp = os.path.join(self.work, "tmp")
        self.warehouse = os.path.join(self.work, "warehouse")
        self.registry_roots = os.path.join(self.work, "registry_idx")
        self.spans = os.path.join(self.out, f"spans-{workload}-seed{seed}.json")

    def reset_engine_state(self) -> None:
        for d in (self.warehouse, self.registry_roots):
            shutil.rmtree(d, ignore_errors=True)
        for d in (self.local, self.tmp, self.warehouse, self.registry_roots):
            os.makedirs(d, exist_ok=True)

    def pin(self) -> None:
        """Start from empty engine directories; Spark's scratch and the
        process's temporary files go under the work directory."""
        self.reset_engine_state()
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["TMPDIR"] = self.tmp


def _spark_conf(layout: Layout, cores: int) -> dict[str, str]:
    java_opts = " ".join(
        [
            # a fixed-size heap: peak RSS then follows the work, not when
            # the collector chose to grow the heap
            f"-Xms{_driver_mem_mb()}m",
            f"-Djava.io.tmpdir={layout.tmp}",
            "-XX:-UsePerfData",
            # the C1 compiler only, early: with C2, background compiles took
            # over half the CPU of the first warm passes and varied from run
            # to run; C1 with low thresholds is done within the cold pass.
            # C1 alone defaults to a 48 MB code cache, which Spark fills
            "-XX:TieredStopAtLevel=1",
            "-XX:CompileThresholdScaling=0.01",
            "-XX:ReservedCodeCacheSize=240m",
            f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
        ]
    )
    return {
        "spark.driver.memory": f"{_driver_mem_mb()}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": layout.warehouse,
        # keep every job and stage of the run for the status-store rollup
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


# -- package loading -------------------------------------------------------


def _redirect_index_roots(modules, root: str) -> None:
    """Point the persisted-index families' default roots (``/tmp/...``)
    at the run's own directory: the registry queries pass no
    ``path_root``, so the defaults decide where they write."""

    def moved(v):
        if isinstance(v, str) and v.startswith(REGISTRY_ROOT_PREFIX):
            return os.path.join(root, v[len("/tmp/"):])
        return v

    import inspect

    for mod in modules:
        for obj in vars(mod).values():
            if not inspect.isfunction(obj) or obj.__module__ != mod.__name__:
                continue
            if obj.__defaults__:
                obj.__defaults__ = tuple(moved(v) for v in obj.__defaults__)
            if obj.__kwdefaults__:
                obj.__kwdefaults__ = {k: moved(v) for k, v in obj.__kwdefaults__.items()}
        roots = getattr(mod, "_DEFAULT_ROOTS", None)
        if isinstance(roots, dict):
            for k, v in roots.items():
                roots[k] = moved(v)


class Engine:
    """One set-up of the engine: package import, session, registry."""

    def __init__(self, layout: Layout, tracer, cores: int) -> None:
        from tracing import traced_modules

        modules = traced_modules()
        _redirect_index_roots(modules, layout.registry_roots)
        if tracer is not None:
            tracer.install(modules)
        import sdc_spark.session as session

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            "perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=_spark_conf(layout, cores),
        )
        self.session_start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        import sdc_spark.plans.all  # noqa: F401  (populates the registry)
        from sdc_spark.plans.registry import ORACLES, QUERIES

        self.registry_import_s = time.perf_counter() - t0
        self.queries, self.oracles = QUERIES, ORACLES


# -- one pass ----------------------------------------------------------------


def _release(spark) -> None:
    """Drop what an operation left cached, as a closed-loop client would."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def _cpu_clock(pid: int) -> int:
    """The clock id of process ``pid``'s CPU clock (Linux
    ``CPUCLOCK_SCHED``): the run time of all its threads, in nanoseconds."""
    return (~pid << 3) | 2


def _engine_cpu_s(jvm_clk: int) -> float:
    """CPU seconds used so far by this Python process and the JVM. The
    kernel leaves out time the hypervisor gave to other guests (steal),
    so a busy host does not inflate it the way it inflates wall time."""
    return time.process_time() + time.clock_gettime(jvm_clk)


class Canary:
    """A fixed piece of CPU work, an interpreter loop and a numpy sort, that
    no change to the package can alter. It runs on the driver thread
    before every operation, outside the operation's timing, and its CPU
    time tracks how fast the shared host is running during this run."""

    def __init__(self) -> None:
        import numpy as np

        self._sort = np.sort
        self._array = np.random.default_rng(0).random(CANARY_SORT_N)
        self.samples: list[float] = []

    def measure(self) -> None:
        t0 = time.thread_time()
        x = 0
        for i in range(CANARY_LOOP):
            x += i * i % 7
        self._sort(self._array)
        self.samples.append(time.thread_time() - t0)

    def mean_s(self) -> float:
        return statistics.fmean(self.samples)


def _run_op(spark, op, tracer, plan_catalyst: bool, jvm_clk: int) -> dict:
    """Build, plan, collect and release one operation. Returns wall and
    CPU timings, the wall-clock window (epoch ms) and the collected frame."""
    sc = spark.sparkContext
    fired = threading.Event()

    def cancel() -> None:
        fired.set()
        sc.cancelAllJobs()

    watchdog = threading.Timer(OP_TIMEOUT_S, cancel)
    watchdog.daemon = True
    rec = {"name": op.name, "error": None, "pdf": None}
    if tracer is not None:
        tracer.query = op.name
    t0_ms = time.time() * 1000.0
    c0 = _engine_cpu_s(jvm_clk)
    t0 = time.perf_counter()
    watchdog.start()
    try:
        df = op.build()
        t1 = time.perf_counter()
        if plan_catalyst:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rec["pdf"] = df.toPandas()
        t3 = time.perf_counter()
        _release(spark)
    except Exception as e:  # noqa: BLE001  (one failed op must not stop the run)
        rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
        traceback.print_exc(file=sys.stderr)
        t1 = t2 = t3 = time.perf_counter()
    finally:
        watchdog.cancel()
    t4 = time.perf_counter()
    rec["cpu"] = _engine_cpu_s(jvm_clk) - c0
    if fired.is_set():
        rec["error"] = f"watchdog: exceeded {OP_TIMEOUT_S:.0f}s"
    rec.update(
        wall=t4 - t0, build_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2,
        t0_ms=t0_ms, t1_ms=time.time() * 1000.0,
    )
    if tracer is not None:
        tracer.query = None
    return rec


def _index_roots(layout: Layout) -> list[str]:
    """Every persisted index directory currently on disk."""
    base = layout.registry_roots
    return [
        os.path.join(base, family, name)
        for family in sorted(os.listdir(base))
        for name in sorted(os.listdir(os.path.join(base, family)))
    ]


def _tmp_index_roots() -> dict[str, float]:
    """The registry's default index roots (``/tmp/sdc_spark_*idx``) and
    the indices in them, with their modification times."""
    out = {}
    for p in glob.glob(REGISTRY_ROOT_PREFIX + "*idx") + glob.glob(
        REGISTRY_ROOT_PREFIX + "*idx/*"
    ):
        try:
            out[p] = os.stat(p).st_mtime
        except FileNotFoundError:
            pass
    return out


def _reset_after_pass(spark, layout: Layout, tmp_before: dict[str, float]) -> tuple[int, list[str]]:
    """Check where the pass wrote, then drop the tables and index roots its
    registry queries left behind (they drop their index at the start of a
    run, not the end), so every pass starts from the same state.

    Returns the number of index roots and warehouse entries the pass left
    in the run's own directories, and the failures: an index root under
    ``/tmp/sdc_spark_*idx`` the pass added or modified (its default roots
    were not all rebound), or a table, index root or warehouse entry that
    survives the clean-up."""
    tmp_now = _tmp_index_roots()
    failures = [
        f"wrote outside the run: {p}"
        for p, mtime in sorted(tmp_now.items())
        if tmp_before.get(p) != mtime
    ]
    left_by_pass = len(_index_roots(layout)) + len(os.listdir(layout.warehouse))
    for t in spark.catalog.listTables():
        spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    layout.reset_engine_state()
    survived = [t.name for t in spark.catalog.listTables()]
    survived += os.listdir(layout.registry_roots) + os.listdir(layout.warehouse)
    failures += [f"survived the clean-up: {x}" for x in survived]
    return left_by_pass, failures


def _settle(spark) -> None:
    """Between passes, outside the timed region: collect garbage in both
    processes so that the JVM's ContextCleaner releases the previous pass's
    shuffles and broadcasts now rather than during the next pass."""
    gc.collect()
    spark._jvm.java.lang.System.gc()
    time.sleep(SETTLE_S)


# -- correctness -------------------------------------------------------------


def _digest(pdf) -> tuple:
    """(rows, columns, hash) of the frame, canonicalized and hashed as the
    correctness gate does (``tools/check_correctness.py``)."""
    from tools.check_correctness import canonicalize, frame_hash

    c = canonicalize(pdf)
    return (len(c), tuple(c.columns), frame_hash(c))


def _expected_digests(ops, data_dir: str) -> tuple[dict, dict]:
    """Reference digest per operation, from its DuckDB oracle."""
    import duckdb

    from sdc_spark.sources.readers import TABLES, table_path

    expected, errors = {}, {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
            )
        for op in ops:
            try:
                expected[op.name] = _digest(con.sql(op.oracle_sql).df())
            except Exception as e:  # noqa: BLE001
                errors[op.name] = f"oracle failed: {type(e).__name__}: {e}"[:300]
    finally:
        con.close()
    return expected, errors


# -- metrics -----------------------------------------------------------------


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in xs))


PER_LAYER = [
    ("spark.exec_s", "s"), ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.core_util", "ratio"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"), ("spark.output_mb", "MB"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("driver.gap_s", "s"), ("plans.build_s", "s"), ("sink.action_s", "s"),
    ("catalyst.plan_s", "s"), ("catalyst.executions", "count"),
    ("py4j.calls", "count"), ("py4j.s", "s"),
    ("functions.self_s", "s"), ("frame.self_s", "s"),
    ("materialize.calls", "count"), ("materialize.s", "s"),
    ("materialize_lazy.calls", "count"), ("unmaterialize.calls", "count"),
    ("operators.dedup.self_s", "s"), ("operators.similarity.self_s", "s"),
    ("operators.retrieval.self_s", "s"), ("operators.order.self_s", "s"),
    ("operators.asof.self_s", "s"), ("operators.rolling.self_s", "s"),
    ("index.write_s", "s"), ("index.append_s", "s"), ("index.delete_s", "s"),
    ("index.compact_s", "s"), ("index.lock_wait_s", "s"),
    ("maintenance.concurrent_s", "s"), ("index.screen_s", "s"),
    ("index.data_files", "count"), ("index.data_mb", "MB"), ("index.log_mb", "MB"),
    ("sources.read_s", "s"), ("sources.write_s", "s"),
    ("session.start_s", "s"), ("registry.import_s", "s"),
    ("cold.minus_warm_s", "s"), ("trace.overhead_s", "s"),
    ("pass.wall_s", "s"), ("query.geomean_wall_s", "s"), ("cold.wall_s", "s"),
    ("host.canary_s", "s"),
]
_FAMILIES = ("lsh", "posting", "ivf", "substring")
_SCREENS = (
    "screen_against_index", "bm25_from_index", "ann_ivf_search_index",
    "screen_substrings_against_index",
)


def _layer_metrics(p: dict, jobs, stages, cores: int) -> dict[str, float]:
    """Per-layer values of one traced pass."""
    from rollup import window_rollup
    from tracing import layer_totals

    m: dict[str, float] = {}
    for rec in p["ops"]:
        for k, v in window_rollup(jobs, stages, rec["t0_ms"], rec["t1_ms"]).items():
            m[f"spark.{k}"] = m.get(f"spark.{k}", 0.0) + v
    m["spark.core_util"] = m["spark.task_s"] / max(m["spark.exec_s"] * cores, 1e-9)
    m["driver.gap_s"] = p["wall"] - m["spark.exec_s"]
    m["plans.build_s"] = sum(r["build_s"] for r in p["ops"])
    m["sink.action_s"] = sum(r["action_s"] for r in p["ops"])
    m["catalyst.plan_s"] = sum(r["plan_s"] for r in p["ops"])
    m["catalyst.executions"] = p["sql_executions"]
    m["py4j.calls"], m["py4j.s"] = p["py4j_calls"], p["py4j_s"]
    m.update(p["index_stats"])

    lt = layer_totals(p["spans"])

    def self_s(layer: str) -> float:
        return lt.get(layer, {}).get("self_s", 0.0)

    def fn(layer: str, stat: str, name: str) -> float:
        return lt.get(layer, {}).get(f"{stat}:{name}", 0.0)

    def family_s(verb: str) -> float:
        return sum(
            fn(layer, "s", f"{verb}_{fam}_index")
            for layer in lt if layer.startswith("operators.") for fam in _FAMILIES
        )

    m["functions.self_s"] = self_s("functions")
    m["frame.self_s"] = self_s("frame")
    for mod in ("dedup", "similarity", "retrieval", "order", "asof", "rolling"):
        m[f"operators.{mod}.self_s"] = self_s(f"operators.{mod}")
    m["materialize.calls"] = fn("materialize", "fn", "materialize")
    m["materialize.s"] = fn("materialize", "s", "materialize") + fn(
        "materialize", "s", "materialize_lazy"
    )
    m["materialize_lazy.calls"] = fn("materialize", "fn", "materialize_lazy")
    m["unmaterialize.calls"] = fn("materialize", "fn", "unmaterialize")
    m["index.write_s"] = family_s("write")
    m["index.append_s"] = family_s("append")
    m["index.delete_s"] = family_s("delete_from")
    m["index.compact_s"] = family_s("compact")
    m["index.screen_s"] = sum(
        fn(layer, "s", name) for layer in lt for name in _SCREENS
    )
    m["index.lock_wait_s"] = fn("operators.maintenance", "s", "index_lock.wait")
    m["maintenance.concurrent_s"] = fn("operators.maintenance", "s", "run_concurrently")
    m["sources.read_s"] = sum(
        v for k, v in lt.get("sources.readers", {}).items() if k.startswith("s:")
    )
    m["sources.write_s"] = sum(
        v for k, v in lt.get("sources.writers", {}).items() if k.startswith("s:")
    )
    return m


def _index_stats(layout: Layout) -> dict[str, float]:
    from sdc_spark.operators.maintenance import index_file_stats

    files = data = logs = 0.0
    for root in _index_roots(layout):
        st = index_file_stats(root)
        files += st["data_files"]
        data += st["data_bytes"]
        logs += st["log_bytes"]
    mb = 1024.0 * 1024.0
    return {"index.data_files": files, "index.data_mb": data / mb, "index.log_mb": logs / mb}


# -- main ----------------------------------------------------------------------


def run(args, layout: Layout) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "sdc_spark")):
        print(f"perfbench: no sdc_spark package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    cores = _nproc()
    shutil.rmtree(layout.work, ignore_errors=True)
    layout.pin()

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install_py4j()

    # set-up: process start to ready (interpreter, JVM, session, registry)
    engine = Engine(layout, tracer, cores)
    setup_s = _since_process_start()
    t_measure = time.perf_counter()
    spark = engine.spark
    ops = workload.ops(spark, DATA_DIR, engine.queries, engine.oracles)
    print(
        f"# perfbench workload={workload.name} seed={args.seed} master=local[{cores}] "
        f"shuffle_partitions={cores} driver_memory={_driver_mem_mb()}m "
        f"data={os.path.relpath(DATA_DIR, ROOT)} work={os.path.relpath(layout.work, ROOT)} "
        f"ops={','.join(op.name for op in ops)} trace={args.trace}",
        flush=True,
    )

    from rollup import StatusStore

    store = StatusStore(spark) if tracer is not None else None
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    jvm_clk = _cpu_clock(jvm_pid)
    passes: list[dict] = []
    canary = Canary()
    first_output: dict[str, tuple] = {}
    tmp_roots = _tmp_index_roots()
    while True:
        k = len(passes)
        # untraced run: the cold pass, one warm-up pass (the first warm
        # pass still ran about a tenth slower), then the measured passes.
        # Traced run: cold pass traced, then warm passes alternate
        # untraced / traced / untraced: the traced pass's wall minus its
        # untraced neighbours' is the tracing overhead, with the JIT's
        # pass-to-pass speed-up averaged out
        traced = tracer is not None and k % 2 == 0
        measured = k >= 2 if tracer is None else k % 2 == 1
        if tracer is not None:
            tracer.enabled = traced
        sql0 = store.sql_executions() if store else 0
        calls0, py4j0 = tracer.counters() if tracer else (0, 0.0)
        t_pass = time.perf_counter()
        recs = []
        for op in ops:
            canary.measure()
            recs.append(_run_op(spark, op, tracer, traced, jvm_clk))
        t_end = time.perf_counter()
        p = {
            "traced": traced, "measured": measured, "ops": recs,
            "wall": sum(r["wall"] for r in recs), "cpu": sum(r["cpu"] for r in recs),
        }
        if traced:
            tracer.enabled = False
            calls1, py4j1 = tracer.counters()
            p.update(
                py4j_calls=calls1 - calls0, py4j_s=py4j1 - py4j0,
                sql_executions=store.sql_executions() - sql0,
                spans=tracer.spans_between(t_pass, t_end),
                index_stats=_index_stats(layout),
            )
        for r in recs:
            pdf = r.pop("pdf")
            if r["error"] is None:
                r["digest"] = _digest(pdf)
                first_output.setdefault(r["name"], r["digest"])
        p["left"], p["leaks"] = _reset_after_pass(spark, layout, tmp_roots)
        tmp_roots = _tmp_index_roots()
        _settle(spark)
        passes.append(p)
        # --seconds is the time spent in measured passes
        measured_passes = [q for q in passes if q["measured"]]
        if len(measured_passes) >= MIN_MEASURED_PASSES and (
            sum(q["wall"] for q in measured_passes) >= args.seconds
            or _since_process_start() > PASS_BUDGET_S
        ):
            break
    t_passes = time.perf_counter()
    # peak RSS of the engine, read before the oracle gate runs DuckDB here
    peak_rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)

    # oracle gate, outside the timed passes
    if tracer is not None:
        tracer.enabled = False
    expected, ref_errors = _expected_digests(ops, DATA_DIR)
    t_oracle = time.perf_counter()
    # an operation fails on an exception, a watchdog timeout, an output that
    # differs from the first pass's or from the oracle's, an oracle that did
    # not run, or a pass that left state behind
    failures: list[str] = []
    attempted = failed = 0
    for i, p in enumerate(passes):
        failures += [f"pass {i}: {leak}" for leak in p["leaks"]]
        for r in p["ops"]:
            attempted += 1
            first = first_output.get(r["name"])
            exp = expected.get(r["name"])
            if r["error"] is not None:
                why = r["error"]
            elif r["name"] in ref_errors:
                why = ref_errors[r["name"]]
            elif r["digest"] != first:
                why = "output differs from the first pass's"
            elif first != exp:
                why = (
                    f"oracle mismatch: rows {first[0]} vs {exp[0]}, "
                    f"same columns {first[1] == exp[1]}"
                )
            elif p["leaks"]:
                why = "its pass left state behind"
            else:
                continue
            failed += 1
            failures.append(f"pass {i} {r['name']}: {why}")
    jobs = stages = None
    if store is not None:
        jobs, stages = store.snapshot()
    spark.stop()
    _stop_gateway()

    cold, warm_passes = passes[0], passes[1:]
    traced_warm = [p for p in warm_passes if p["traced"]]
    e2e_passes = [p for p in passes if p["measured"]]

    def per_op(key: str) -> list[float]:
        return [
            statistics.median(
                r[key] for p in e2e_passes for r in p["ops"] if r["name"] == op.name
            )
            for op in ops
        ]

    wall_s = statistics.median(p["wall"] for p in e2e_passes)
    cpu_s = statistics.median(p["cpu"] for p in e2e_passes)
    for p in passes:
        print(
            f"# pass traced={int(p['traced'])} measured={int(p['measured'])} "
            f"wall_s={p['wall']:.3f} cpu_s={p['cpu']:.3f} left={p['left']} wall/cpu: "
            + " ".join(f"{r['name']}={r['wall']:.3f}/{r['cpu']:.3f}" for r in p["ops"]),
            flush=True,
        )
    for f in failures:
        print(f"# FAILED {f}", flush=True)
    print(
        f"# error_rate={failed / max(attempted, 1):.4f} ({failed}/{attempted}) "
        f"passes={len(passes)}",
        flush=True,
    )
    print(
        f"# phases_s setup={setup_s:.2f} passes={t_passes - t_measure:.2f} "
        f"oracle={t_oracle - t_passes:.2f}",
        flush=True,
    )
    # CPU seconds at the reference host's speed: scaled by how much slower
    # or faster than there the canary ran in this run
    host_scale = CANARY_REF_S / canary.mean_s()
    print(
        f"# cpu_s pass={cpu_s:.3f} geomean_query={_geomean(per_op('cpu')):.3f} "
        f"cold_pass={cold['cpu']:.3f} (as measured; canary={canary.mean_s():.4f} s "
        f"over {len(canary.samples)}, scale={host_scale:.4f})",
        flush=True,
    )
    print(
        f"# wall_s pass={wall_s:.3f} geomean_query={_geomean(per_op('wall')):.3f} "
        f"cold_pass={cold['wall']:.3f}",
        flush=True,
    )

    if tracer is None:
        metrics = {
            "cpu_s": (cpu_s * host_scale, "s"),
            "geomean_query_cpu_s": (_geomean(per_op("cpu")) * host_scale, "s"),
            "cold_cpu_s": (cold["cpu"] * host_scale, "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        rows = [_layer_metrics(p, jobs, stages, cores) for p in traced_warm or [cold]]
        values = {k: statistics.median(r.get(k, 0.0) for r in rows) for k, _ in PER_LAYER}
        values["session.start_s"] = engine.session_start_s
        values["registry.import_s"] = engine.registry_import_s
        values["cold.minus_warm_s"] = (cold["cpu"] - cpu_s) * host_scale
        values["host.canary_s"] = canary.mean_s()
        values["pass.wall_s"] = wall_s
        values["query.geomean_wall_s"] = _geomean(per_op("wall"))
        values["cold.wall_s"] = cold["wall"]
        traced_wall = statistics.median(p["wall"] for p in traced_warm or [cold])
        values["trace.overhead_s"] = traced_wall - wall_s
        metrics = {k: (values[k], unit) for k, unit in PER_LAYER}
        os.makedirs(layout.out, exist_ok=True)
        with open(layout.spans, "w") as f:
            json.dump(
                {
                    "workload": workload.name,
                    "seed": args.seed,
                    "columns": ["layer", "function", "start_s", "end_s", "self_s", "op"],
                    "spans": tracer.spans,
                },
                f,
            )
        print(f"# spans written to {os.path.relpath(layout.spans, ROOT)}", flush=True)
    for name, (v, unit) in metrics.items():
        print(f"# {name} = {v:.6g} {unit}", flush=True)

    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def _stop_gateway() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    layout = Layout(args.workload, args.seed)
    try:
        return run(args, layout)
    finally:
        if "pyspark" in sys.modules:
            _stop_gateway()
        shutil.rmtree(layout.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
