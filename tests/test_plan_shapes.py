"""Physical-plan invariants as CI: the scale-critical plan properties the
explain audit checks interactively, pinned so a regression (lost
broadcast, reintroduced single-partition exchange, surprise sort-merge
join) fails the suite rather than surfacing at 100 TB.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, "/root/repo")
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import numpy as np
import pandas as pd

import sdc_spark.plans.all  # noqa: F401
from explain_audit import window_nodes
from sdc_spark.frame import from_pandas
from sdc_spark.materialize import plan_string
from sdc_spark.plans.registry import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    return plan_string(QUERIES[name](spark, sf_dir))


def test_tpch_star_joins_broadcast_dims(spark, sf_dir):
    """Q5-shape: every dimension side broadcast, no sort-merge join."""
    plan = plan_of(spark, sf_dir, "q5_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_q9_profit_no_smj(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q9_nation_profit")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_order_machinery_never_single_partitions_data(spark, sf_dir):
    """The distributed-order surface (ffill, cumsum, topk-per-group) must
    not contain a full-data Exchange SinglePartition. P-row offset tables
    hash-partition on the non-foldable zero key, so any SinglePartition
    exchange left is a regression."""
    for q in ("series_ffill", "window_cumsum", "window_topk_per_group"):
        plan = plan_of(spark, sf_dir, q)
        assert "Exchange SinglePartition" not in plan, f"{q}:\n{plan}"


def test_topk_uses_take_ordered(spark, sf_dir):
    """Deterministic top-k must compile to TakeOrderedAndProject, not a
    global sort."""
    plan = plan_of(spark, sf_dir, "text_vocab_topk")
    assert "TakeOrderedAndProject" in plan, plan


def test_filters_reach_parquet_scan(spark, sf_dir):
    """Predicate pushdown: the Q6-shape filter must appear in
    PushedFilters on the lineitem scan."""
    # the PushedFilters list is elided with "..." in long plan strings, so
    # match the prefix rather than a closed bracket
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    pushed = re.findall(r"PushedFilters: \[[^\]\n]*", plan)
    assert any("GreaterThan" in p or "LessThan" in p for p in pushed), plan


def test_minhash_verify_join_not_cartesian(spark, sf_dir):
    """The LSH candidate join must be an equi-join (band, bhash) — a
    cartesian/broadcast-nested-loop here means the banding predicate was
    lost and the plan is O(n²)."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan, plan


def test_weighted_sample_partial_topk(spark, sf_dir):
    """sample_weighted must get the WindowGroupLimit partial top-k (the
    map-side pre-filter before the shuffle) — losing it means every row
    crosses the wire."""
    plan = plan_of(spark, sf_dir, "sample_weighted")
    assert "WindowGroupLimit" in plan, plan


def test_stats_profile_single_scan(spark, sf_dir):
    """The column profiler claims ONE pass: exactly one FileScan in the
    executed plan (a unionAll unpivot silently copies the aggregate
    subplan — regression guard)."""
    plan = plan_of(spark, sf_dir, "stats_profile")
    assert plan.count("FileScan") == 1, plan


def test_resample_single_aggregation(spark, sf_dir):
    """OHLC bars ride one partial+final aggregate: no Window, no Sort
    before the aggregation."""
    plan = plan_of(spark, sf_dir, "ts_resample_ohlc")
    assert "WindowExec" not in plan and "Window " not in plan, plan
    assert "partial_min_by" in plan or "min_by" in plan, plan


def test_rag_chunking_no_exchange(spark, sf_dir):
    """rag_chunk_overlap is tokenise -> sequence -> posexplode -> project:
    one narrow stage, zero shuffles."""
    plan = plan_of(spark, sf_dir, "rag_chunk_overlap")
    assert "Exchange" not in plan, plan


def test_interval_merge_single_user_shuffle(spark, sf_dir):
    """interval_merge_overlaps: both window passes and the final aggregate
    reuse ONE hash partitioning on user_id — exactly one exchange, never a
    single-partition window."""
    plan = plan_of(spark, sf_dir, "interval_merge_overlaps")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_mad_anomaly_broadcasts_group_stats(spark, sf_dir):
    """events_anomaly_mad: the tiny per-group median/MAD tables come back
    as broadcast joins; the events scan is never sort-merge joined."""
    plan = plan_of(spark, sf_dir, "events_anomaly_mad")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_approx_sketch_no_expand(spark, sf_dir):
    """agg_approx_sketch mixes distinct and sketch aggregates; fused into
    one Aggregate, Catalyst rewrites via Expand (every input row
    duplicated per agg group — measured 4.6x slower at sf0.1). The query
    splits them into two cross-joined one-row aggregates; pin that no
    Expand node ever reappears."""
    plan = plan_of(spark, sf_dir, "agg_approx_sketch")
    assert "Expand" not in plan, plan


def test_ann_audit_broadcasts_queries(spark, sf_dir):
    """The ANN recall audits must keep the brute-force twin's broadcast
    shape (queries broadcast against one corpus scan) — a lost hint
    turns the exact side into a corpus x corpus sort-merge join."""
    plan = plan_of(spark, sf_dir, "ann_lsh_topk")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_aqe_skew_split_fires(spark):
    """AQE skew-join evidence: with the split thresholds lowered to test
    scale, a hot-key sort-merge join must come back from execution with
    the join node marked skew=true (OptimizeSkewedJoin split the
    oversized partition and replicated the matching dim rows). This is
    the runtime mitigation join_aqe_skew relies on at 100 TB; the
    graded query keeps production thresholds and is correctness-checked
    against the plain-join oracle either way.

    Two subtleties this test guards in amber: (1) shuffle partition
    sizes are COMPRESSED bytes, so the payload must be incompressible
    (md5 strings — a constant hot-key column LZ4s to under any
    threshold and the rule correctly sees no skew); (2) the payload
    must survive column pruning into the shuffle (aggregate over it),
    or the fact side shrinks to the constant key."""
    from pyspark.sql import functions as F

    from sdc_spark.operators.skew import aqe_skew_join

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        # one pathological key holding 90% of the fact side
        fact = spark.range(0, 120_000).select(
            F.when(F.col("id") < 108_000, F.lit(0))
            .otherwise(F.col("id") % 7)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pay"),
        )
        dim = spark.range(7).select(
            F.col("id").alias("k"), F.concat(F.lit("dim_"), F.col("id")).alias("d")
        )
        j = (
            aqe_skew_join(fact, dim, on="k")
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias("n"), F.max("pay").alias("mp"))
        )
        rows = {r.d: r.n for r in j.collect()}
        assert sum(rows.values()) == 120_000 and rows["dim_0"] > 100_000, rows
        # collect() executed THIS DataFrame's queryExecution, so the
        # final adaptive plan carries the runtime skew annotation
        plan = plan_string(j)
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pushdown_reaches_scan_inside_materialized_segment(spark, sf_dir):
    """Round-8 audit blind spot, closed: a query whose input hides behind
    the order machinery's eager checkpoint audits as scans=0 at the top
    level — the scan ran when materialize() computed the segment. The
    capture hook (materialize.start_plan_capture) exposes those segment
    plans; pin that a source predicate is pushed down to the parquet
    scan INSIDE the materialized segment, where the top-level explain
    can't see it."""
    import re

    from pyspark.sql import functions as F

    from sdc_spark.frame.series import IDX, SparkSeries
    from sdc_spark.materialize import start_plan_capture, stop_plan_capture
    from sdc_spark.sources.readers import read_table

    cap = start_plan_capture()
    try:
        ev = (
            read_table(spark, sf_dir, "events")
            .filter(F.col("value") > 0)
            .select(
                F.col("event_id").alias(IDX),
                F.when(F.col("event_id") % 7 != 0, F.round("value", 4)).alias(
                    "v"
                ),
            )
        )
        s = SparkSeries.from_column(ev, "v", index_col=IDX)
        assert s.ffill()._df.count() > 0
        plans = list(cap)
    finally:
        stop_plan_capture()
    assert plans, "order machinery did not materialize any segment"
    seg = "\n".join(plans)
    pushed = re.findall(r"PushedFilters: \[[^\]\n]*", seg)
    assert any("GreaterThan" in p for p in pushed), seg[:4000]


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime Bloom-filter join pushdown, pinned on the GRADED registry
    query (join_runtime_bloom — DuckDB-oracled, so semantics are checked
    by the gate): the selective dim side injects a bloom_filter_agg
    subquery whose might_contain() prunes the FACT side before its
    shuffle, and the might_contain predicate must sit on the lineitem
    (application) side, not just anywhere in the plan."""
    plan = plan_of(spark, sf_dir, "join_runtime_bloom")
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan
    # the filter must protect the fact scan: a Filter with might_contain
    # appears in the lineitem scan's parent chain (same plan segment,
    # before the scan line)
    lines = plan.splitlines()
    scan_idx = next(
        i for i, ln in enumerate(lines) if "FileScan" in ln and "lineitem" in ln
    )
    assert any("might_contain" in ln for ln in lines[:scan_idx]), plan


def repeated_window_exprs(df) -> list[str]:
    """Window expressions that repeat inside one ``Window [...]`` node of
    df's physical plan, exprIds and aliases ignored. Spark extracts every
    Python reference to ``agg.over(w)`` as its own window expression, and a
    sliding ROWS frame recomputes each one per row. The plan string is
    untruncated so that wide nodes list every expression."""
    plan = plan_string(df)
    nodes = window_nodes(plan)
    assert nodes, plan
    return [e for node in nodes for e, k in Counter(node).items() if k > 1]


def test_rolling_queries_evaluate_each_window_aggregate_once(spark, sf_dir):
    for q in ("rolling_basic", "rolling_stats", "rolling_corr_cov", "rolling_skew_kurt"):
        assert repeated_window_exprs(QUERIES[q](spark, sf_dir)) == [], q


def test_rolling_api_evaluates_each_window_aggregate_once(spark):
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({"k": rng.randint(0, 3, 40), "x": rng.randn(40), "y": rng.randn(40)})
    sf = from_pandas(spark, pdf)
    r = sf["x"].rolling(6, min_periods=3)
    g = sf.groupby("k").rolling(6, min_periods=3)
    cases = {
        "series.var": r.var(),
        "series.skew": r.skew(),
        "series.kurt": r.kurt(),
        "series.corr": r.corr(sf["y"]),
        "series.cov": r.cov(sf["y"]),
        "frame.corr(series)": sf.rolling(6, min_periods=3).corr(sf["y"]),
        "group.std": g.std(),
        "group.skew": g.skew(),
    }
    for name, out in cases.items():
        assert repeated_window_exprs(out._df) == [], name
