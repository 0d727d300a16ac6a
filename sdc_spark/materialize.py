"""Cluster-durable materialization primitive.

Several operators compute an intermediate ONCE and read it from more
than one place: the order machinery's range-partitioned frame feeds a
P-row offset branch and a per-row branch, dedup banding and IVF
assignment fan out, and iterative connected components needs lineage
truncation so round N's plan is O(1), not O(N). The order machinery does
not depend on it for its answer (its range-partition id is a pure
function of the row); there it only saves re-running the input per
branch.

``materialize(df)`` is the one primitive they all use. The strategy is a
session config so the SAME plan code runs in local mode and on a fleet:

``spark.sdc.materialize.mode``:

- ``localCheckpoint`` (default) — eager local checkpoint. Fastest; blocks
  live unreplicated on executor block managers and lineage is truncated,
  so an executor loss fails the query (it must be restarted). Right for
  local[N] (one JVM — no executor loss) and for short interactive cluster
  jobs where restart-on-loss is acceptable.
- ``persist`` — persist(MEMORY_AND_DISK) + count(). Blocks spill to local
  disk under memory pressure (a 100-TB intermediate won't OOM the cache),
  and lost partitions are RECOMPUTED from lineage on executor failure —
  the durable default for long-running cluster jobs. Lineage is kept, so
  for unbounded iterative loops prefer ``checkpoint``.
- ``checkpoint`` — reliable checkpoint to ``spark.sdc.checkpoint.dir``
  (HDFS/S3). Survives any executor loss AND truncates lineage; the right
  mode for 100+-round iterative jobs on preemptible fleets. Requires the
  dir to be set (falls back to sparkContext.setCheckpointDir value).

``materialize`` is EAGER in all three: when it returns, the data is
computed and every downstream branch reads the same bytes;
``materialize_lazy`` defers that to the caller's next action. Answers
are mode-independent (pinned by tests/test_materialize.py, which re-runs
a cross-partition scan query under each mode and compares bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MODE_KEY = "spark.sdc.materialize.mode"
DIR_KEY = "spark.sdc.checkpoint.dir"
_VALID = ("localCheckpoint", "persist", "checkpoint")

# Audit hook: when enabled, every materialize() records the physical plan
# it executed. An eager checkpoint runs its scan BEFORE the consumer plan
# exists, so a top-level explain shows `scans=0` for checkpoint-fed
# queries — capture here makes filter pushdown auditable for those
# hidden segments (tools/explain_audit.py drives this; zero overhead when
# off).
_PLAN_CAPTURE: "list[str] | None" = None


def start_plan_capture() -> list:
    """Begin recording materialized-segment plans; returns the live list."""
    global _PLAN_CAPTURE
    _PLAN_CAPTURE = []
    return _PLAN_CAPTURE


def stop_plan_capture() -> None:
    global _PLAN_CAPTURE
    _PLAN_CAPTURE = None


def plan_string(df: DataFrame) -> str:
    """``df``'s executed physical plan with every node printed in full.
    ``executedPlan().toString()`` cuts each node's expression list at
    spark.sql.debug.maxToStringFields (25) and appends "... N more
    fields", so an audit of a wide node would see only a prefix."""
    plan = df._jdf.queryExecution().executedPlan()
    return plan.treeString(True, False, 2**31 - 1, False, False)


def _record_plan(df: DataFrame) -> None:
    if _PLAN_CAPTURE is None:
        return
    try:  # classic mode only; never let auditing break the operator
        _PLAN_CAPTURE.append(plan_string(df))
    except Exception:  # noqa: BLE001
        pass


def materialize(df: DataFrame, truncate: bool = False) -> DataFrame:
    """Eagerly compute ``df`` once and return a frame whose every consumer
    reads that single computation (see module docstring for the mode
    semantics). Drop-in replacement for ``df.localCheckpoint(eager=True)``.

    ``truncate=True`` is REQUIRED by unbounded iterative loops (connected
    components and friends): round N's frame is built from round N-1's,
    so under plain ``persist`` (which keeps lineage) the logical plan —
    and Catalyst's per-round analysis cost — doubles every iteration;
    measured on a 16-node chain, round 2 already costs ~90s vs <1s
    truncated, and deeper rounds never finish. When the mode is
    ``persist`` and ``truncate`` is set, this escalates to a reliable
    checkpoint if a checkpoint dir is configured (durable AND truncated
    — the same discipline GraphX's Pregel applies), else to
    localCheckpoint (truncated; executor loss requires a restart — the
    trade the loop cannot avoid, since lineage-kept persist is unusable
    for it). Single-pass DAG-reuse sites keep the default."""
    return _materialize(df, truncate, eager=True)


def materialize_lazy(df: DataFrame, truncate: bool = False) -> DataFrame:
    """``materialize`` deferred to the CALLER's next action: the returned
    frame is marked for checkpoint/persist but not yet computed, so an
    iterative loop can run its convergence aggregate AS the materializing
    action — one job per round instead of a checkpoint job followed by an
    aggregate job over the checkpointed blocks (the per-round fixed cost
    is driver gaps + job submission, measured ~100-300 ms each on the
    profiler, dwarfing the aggregate itself).

    Contract: run ONE action over the returned frame before several
    consumers read it (the loops' convergence check is that action).
    Until then it is a single lazy plan, and branches whose first reads
    race could each compute a partition: wasteful, and harmless only for
    a deterministic plan (``order.range_partitioned`` relies on that: its
    pid is a pure function of the row). Mode mapping mirrors
    ``materialize``: localCheckpoint/checkpoint have native lazy forms;
    ``persist`` without truncate is naturally lazy; ``persist`` with
    truncate escalates exactly like the eager path."""
    return _materialize(df, truncate, eager=False)


def _materialize(df: DataFrame, truncate: bool, eager: bool) -> DataFrame:
    """The one mode dispatch behind ``materialize`` (eager) and
    ``materialize_lazy``: plain ``persist`` pins in the cache (eager adds
    the computing ``count()``); every other case is a checkpoint, reliable
    when a checkpoint dir resolves (required in ``checkpoint`` mode, the
    escalation target of ``persist`` + ``truncate``), local otherwise."""
    spark = df.sparkSession
    mode = spark.conf.get(MODE_KEY, "localCheckpoint")
    if mode not in _VALID:
        raise ValueError(f"{MODE_KEY}={mode!r}; expected one of {_VALID}")
    if mode == "persist" and not truncate:
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()  # eager: all branches must see one computation
        _record_plan(out)
        return out
    reliable = mode != "localCheckpoint" and _checkpoint_dir(spark) is not None
    if mode == "checkpoint" and not reliable:
        raise ValueError(
            f"materialize mode 'checkpoint' needs {DIR_KEY} or "
            "sparkContext.setCheckpointDir()"
        )
    out = df.checkpoint(eager=eager) if reliable else df.localCheckpoint(eager=eager)
    _record_plan(df)
    return out


def _checkpoint_dir(spark) -> str | None:
    """Resolve (and lazily apply) the configured reliable-checkpoint dir."""
    sc = spark.sparkContext
    ckdir = spark.conf.get(DIR_KEY, None)
    if ckdir is not None and sc.getCheckpointDir() != ckdir:
        sc.setCheckpointDir(ckdir)
    return sc.getCheckpointDir()


def unmaterialize(df: DataFrame) -> None:
    """Release cached blocks for a SUPERSEDED frame produced by
    ``materialize``. Callers guarantee the frame is never read again
    (iterative loops release round N-1 after round N is materialized).

    Two storage owners to cover: ``persist``-mode frames live in the SQL
    CacheManager (``df.unpersist()``); localCheckpoint frames (default
    mode, and the persist-mode ``truncate`` fallback) persist their
    blocks on the underlying checkpointed RDD, which ``df.unpersist()``
    does not touch — those are released through the analyzed LogicalRDD.
    A released localCheckpoint frame CANNOT be recomputed (lineage is
    truncated); re-reading one fails loudly, which is the correct
    behavior for a frame the caller declared dead. Reliable-checkpoint
    frames are untouched (their files belong to the checkpoint dir)."""
    try:
        df.unpersist()
    except Exception:
        pass
    try:  # classic mode only; Spark Connect has no _jdf -> silently skip
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
