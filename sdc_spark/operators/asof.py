"""Distributed as-of (nearest-key) join.

Reference: ``pd.merge_asof`` existed only in SDC's legacy MPI layer
(tests at /root/reference/sdc/tests/test_join.py:238-263, all skipped);
semantics follow pandas: for each left row, take the last right row whose
key is <= the left key (``backward``, ``allow_exact_matches=True``), the
first right row whose key is >= (``forward``), or the closer of the two
(``nearest``, ties -> backward, matching pandas), optionally within ``by``
groups.

Spark has no native as-of join. The scalable formulation is
union-and-carry-forward:

1. tag right rows 0 and left rows 1, union them on the key column;
2. sort by (group, key, tag) — right rows sort before left rows at equal
   keys, so exact matches are allowed;
3. ``last(right_value, ignorenulls=True)`` over a running window carries
   the most recent right payload onto every left row;
4. keep tag==1 rows.

With ``by``: the window partitions on the by-keys — one shuffle of
|L|+|R| rows, AQE handles skewed groups.

Without ``by`` (the scale trap: an empty ``partitionBy()`` funnels ALL
rows through one task): tag rows with the order machinery's deterministic
range-partition id on the key (``order.range_partitioned``), carry within
each pid via a window on it, then a boundary fix-up — each pid's last
right-row payload (a P-row summary, P = shuffle partitions) is carried
across pids with a tiny window and broadcast-joined back; rows whose pid
saw no earlier right row coalesce to the previous pid's boundary value.
Full-data movement: one pid-hash exchange — no SinglePartition anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sdc_spark.operators.order import _one, range_partitioned

_RKEY = "__rkey__"


def _with_carries(
    unioned: DataFrame,
    payload: Sequence[str],
    by: Sequence[str],
    directions: Sequence[tuple[str, bool]],
    allow_exact: bool = True,
) -> DataFrame:
    """Add as-of carry columns ``{prefix}{a}`` for each payload column and
    each requested (prefix, backward) direction. All directions share one
    partitioning: the second direction only adds an in-partition re-sort.

    ``allow_exact``: with True, right rows sort BEFORE left rows at equal
    keys (exact matches visible in the running frame); with False they
    sort after, so equal-key right rows are excluded.
    """
    tag_ord = F.col("__tag__").asc() if allow_exact else F.col("__tag__").desc()
    if by:
        cur = unioned
        for prefix, backward in directions:
            ordk = F.col("__key__").asc() if backward else F.col("__key__").desc()
            w = (
                W.partitionBy(*by)
                .orderBy(ordk, tag_ord)
                .rowsBetween(W.unboundedPreceding, 0)
            )
            cur = cur.select(
                "*",
                *[F.last(a, ignorenulls=True).over(w).alias(f"{prefix}{a}") for a in payload],
            )
        return cur

    # One deterministic range partition on the key (order.range_partitioned):
    # pid is a pure function of the key, so the carry and boundary-summary
    # branches agree on it, and pid < N makes the pid axis a free
    # spark.range(N) instead of a third scan+shuffle branch over the data.
    spark = unioned.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = range_partitioned(unioned, ["__key__"])
    pid_axis_df = spark.range(n_part).select(
        F.col("id").cast("int").alias("__pid__")
    )
    # EXPLICIT pid repartition for the carry windows: partitionBy("__pid__")
    # alone inserts an ENSURE_REQUIREMENTS exchange that AQE coalesces by
    # SIZE — at small inputs the whole carry+finalize pipeline then ran on
    # ONE task (profiled: merge_asof_nearest's final stage, 1.7s single-task).
    # A user-specified repartition pins the width; the windows reuse it,
    # so the exchange count is unchanged (same fix as order._pid_grouped).
    cur = part.repartition(n_part, "__pid__")
    for prefix, backward in directions:
        ordk = F.col("__key__").asc() if backward else F.col("__key__").desc()
        w = (
            W.partitionBy("__pid__")
            .orderBy(ordk, tag_ord)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        cur = cur.select(
            "*", *[F.last(a, ignorenulls=True).over(w).alias(f"__c_{a}") for a in payload]
        )
        # Per-partition boundary: last (backward) / first (forward) right-row
        # payload by key, per column skipping nulls (mirrors ignorenulls
        # carry). This P-row table is the ONLY single-partition step.
        pick = F.max_by if backward else F.min_by
        summary = (
            part.filter(F.col("__tag__") == 0)
            .groupBy("__pid__")
            .agg(
                *[
                    pick(F.col(a), F.when(F.col(a).isNotNull(), F.col("__key__"))).alias(a)
                    for a in payload
                ]
            )
        )
        # Dense pid axis (partitions with no right rows still need a boundary
        # from their predecessor), then running carry over the P-row table.
        pid_axis = pid_axis_df
        ordp = F.col("__pid__").asc() if backward else F.col("__pid__").desc()
        w2 = (
            W.partitionBy(_one("__pid__"))
            .orderBy(ordp)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        prev = pid_axis.join(summary, "__pid__", "left").select(
            "__pid__",
            *[F.last(a, ignorenulls=True).over(w2).alias(f"__p_{a}") for a in payload],
        )
        cur = cur.join(F.broadcast(prev), "__pid__", "left").select(
            *[c for c in cur.columns if not c.startswith("__c_") and not c.startswith("__p_")],
            *[
                F.coalesce(F.col(f"__c_{a}"), F.col(f"__p_{a}")).alias(f"{prefix}{a}")
                for a in payload
            ],
        )
    return cur


def merge_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | None = None,
    direction: str = "backward",
    suffix: str = "_right",
    tolerance=None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """pandas.merge_asof equivalent; ``direction`` in {backward, forward,
    nearest}. ``nearest`` picks the closer of the backward/forward matches
    row-wise (ties -> backward, as pandas does). ``tolerance`` nulls out
    matches whose key distance exceeds it (same type as key differences);
    ``allow_exact_matches=False`` excludes equal-key right rows (strict
    </>)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unsupported direction {direction!r}")
    by = list(by or [])
    nearest = direction == "nearest"

    lcols = left.columns
    rcols = [c for c in right.columns if c != on and c not in by]
    rpayload = {c: (f"{c}{suffix}" if c in lcols else c) for c in rcols}
    payload = list(rpayload.values())
    if nearest or tolerance is not None or not allow_exact_matches:
        # matched-key column needed for distance / exactness filtering
        payload = payload + [_RKEY]

    lu = left.select(
        *[F.col(c) for c in by],
        F.col(on).alias("__key__"),
        F.lit(1).alias("__tag__"),
        *[F.col(c) for c in lcols if c != on and c not in by],
        *[F.lit(None).cast(right.schema[c].dataType).alias(a) for c, a in rpayload.items()],
        *([F.lit(None).cast(right.schema[on].dataType).alias(_RKEY)] if _RKEY in payload else []),
    )
    ru = right.select(
        *[F.col(c) for c in by],
        F.col(on).alias("__key__"),
        F.lit(0).alias("__tag__"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != on and c not in by],
        *[F.col(c).alias(a) for c, a in rpayload.items()],
        *([F.col(on).alias(_RKEY)] if _RKEY in payload else []),
    )
    unioned = lu.unionByName(ru)

    keep = [c for c in lcols if c != on and c not in by]

    def finalize(frame: DataFrame, cols) -> DataFrame:
        out = frame.select(
            *by, F.col("__key__").alias(on), "__tag__", *keep, *cols
        )
        return out.filter(F.col("__tag__") == 1).drop("__tag__")

    if not nearest:
        backward = direction == "backward"
        carried = _with_carries(
            unioned, payload, by, [("__a_", backward)], allow_exact_matches
        )
        cols = []
        for a in payload:
            if a == _RKEY:
                continue
            c = F.col(f"__a_{a}")
            if tolerance is not None:
                rk = F.col(f"__a_{_RKEY}")
                dist = (F.col("__key__") - rk) if backward else (rk - F.col("__key__"))
                c = F.when(dist <= F.lit(tolerance), c)
            cols.append(c.alias(a))
        return finalize(carried, cols)

    # nearest: both carries on one frame (shared partitioning), then choose
    # row-wise by key distance; ties -> backward (pandas semantics).
    both = _with_carries(
        unioned, payload, by, [("__b_", True), ("__f_", False)], allow_exact_matches
    )
    bk, fk = F.col(f"__b_{_RKEY}"), F.col(f"__f_{_RKEY}")
    choose_b = fk.isNull() | (bk.isNotNull() & ((F.col("__key__") - bk) <= (fk - F.col("__key__"))))
    cols = []
    for a in payload:
        if a == _RKEY:
            continue
        c = F.when(choose_b, F.col(f"__b_{a}")).otherwise(F.col(f"__f_{a}"))
        if tolerance is not None:
            dist = F.when(choose_b, F.col("__key__") - bk).otherwise(fk - F.col("__key__"))
            c = F.when(dist <= F.lit(tolerance), c)
        cols.append(c.alias(a))
    return finalize(both, cols)
