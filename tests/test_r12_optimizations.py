"""Round-12 hardening + optimization internals.

Pins the r12 mechanisms no other test observes directly:

1. ``fk_integrity_audit``'s edge join carries NO broadcast hint — one
   referenced side (orders for lineitem→orders) is fact-sized, and a
   forced broadcast of billions of keys OOMs the driver at corpus
   scale; AQE must be free to pick per edge.
2. The fused release-manifest tail reports n_docs = 0 (not NULL) for an
   empty stage-3 frame, matching the pre-fusion F.count behavior.
3. ``run_concurrently`` chains simultaneous failures: the re-raised
   primary error carries every other thunk's error in its __context__
   chain instead of silently dropping them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401  (fixture)


def test_fk_edge_join_has_no_broadcast_hint(spark):  # noqa: F811
    from sdc_spark.plans.curation2 import _fk_edge_join

    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (None, 10)], "fk_a int, fk_b int"
    )
    dim_a = spark.createDataFrame([(1,), (2,), (2,)], "pk_a int")
    dim_b = spark.createDataFrame([(10,), (20,)], "pk_b int")
    j = _fk_edge_join(
        fact,
        [
            ("fk_a", dim_a, "pk_a", "fact->a"),
            ("fk_b", dim_b, "pk_b", "fact->b"),
        ],
    )
    logical = j._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical
    # orphan counts unchanged by the hint removal (NOT EXISTS semantics:
    # null FK counts as orphan; duplicated dim key must not fan out):
    # fk_a orphans = {3, NULL} → 2, fk_b orphans = {99} → 1, n = 4 rows
    row = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("pk_a").isNull().cast("long")).alias("o_a"),
        F.sum(F.col("pk_b").isNull().cast("long")).alias("o_b"),
    ).collect()[0]
    assert (row["n"], row["o_a"], row["o_b"]) == (4, 2, 1)


def test_dedup_components_still_raises_when_under_iterated(spark):  # noqa: F811
    from sdc_spark.operators.dedup import dedup_components

    # chain of 8 nodes: 3 alternations cannot both reach and confirm the
    # fixpoint, so far nodes may be mislabeled — the run must fail loudly
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_iter=3)


def test_release_tail_empty_reports_zero_docs(spark):  # noqa: F811
    from sdc_spark.plans.pipeline_release import _Q_CUT, _release_tail

    empty = spark.createDataFrame([], "quality double, n_tokens long")
    row = _release_tail(empty, _Q_CUT).collect()[0]
    assert row["n3"] == 0
    assert row["n4"] == 0  # count-like: 0, never NULL, on empty input
    assert row["t3"] is None and row["t4"] is None  # token sums: NULL


def test_run_concurrently_chains_simultaneous_failures(spark):  # noqa: F811
    from sdc_spark.operators.maintenance import run_concurrently

    def fail_a():
        raise ValueError("first failure")

    def fail_b():
        raise KeyError("second failure")

    with pytest.raises((ValueError, KeyError)) as exc_info:
        run_concurrently(fail_a, fail_b)
    # both errors must be visible: one as the primary, the other chained
    seen = set()
    err = exc_info.value
    while err is not None:
        seen.add(type(err))
        err = err.__context__
    assert {ValueError, KeyError} <= seen


def test_materialize_lazy_single_computation(spark):  # noqa: F811
    from pyspark.sql import functions as F

    from sdc_spark.materialize import materialize_lazy, unmaterialize

    # a per-row accumulator counts how often the source is COMPUTED: after
    # the lazy materialize + ONE action, two further consumers must read
    # the pinned blocks, not replay the lineage
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    bump_udf = F.udf(bump, "long").asNondeterministic()
    src = spark.range(100).select(bump_udf("id").alias("v"))
    lazy = materialize_lazy(src, truncate=True)
    assert lazy.agg(F.sum("v")).first()[0] == 4950  # the materializing action
    n_after_action = acc.value
    assert lazy.agg(F.count("v")).first()[0] == 100  # consumer 1
    assert lazy.filter(F.col("v") < 10).count() == 10  # consumer 2
    assert acc.value == n_after_action  # blocks read, lineage NOT replayed
    unmaterialize(lazy)


def test_components_star_keeps_self_pair_nodes(spark):  # noqa: F811
    from sdc_spark.operators.dedup import dedup_components

    # (5,5) is a self-pair: its node must survive into the output as its
    # own singleton component (the r12 base-frame rewrite derives the
    # terminal node set from the materialized base, which keeps self-pairs)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 5)], "doc_a long, doc_b long"
    )
    got = {(r["doc"], r["component"]) for r in dedup_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5)}


def test_salted_block_self_join_emits_each_pair_once(spark):  # noqa: F811
    from pyspark.sql import functions as F

    from sdc_spark.operators.dedup import embedding_near_dups

    # 3 blocks x up to 40 ids spanning every salt bucket: the salted join
    # (a-side salted by id, b-side replicated across the salt space) must
    # emit each qualifying (a < b) pair EXACTLY once — a duplicate or a
    # dropped pair here means the salt replication is wrong
    rows = [(i, f"b{i % 3}", [float(i % 7 + 1), float(i % 5 + 1)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    out = embedding_near_dups(df, "embedding", "vec_id", "label", threshold=-1.0)
    got = [(r["block"], r["vec_a"], r["vec_b"]) for r in out.collect()]
    assert len(got) == len(set(got))  # exactly-once
    import itertools

    want = {
        (f"b{a % 3}", a, b)
        for a, b in itertools.combinations(range(40), 2)
        if a % 3 == b % 3
    }
    assert set(got) == want  # threshold=-1 keeps every in-block pair


def test_semantic_dedup_salted_cell_join_matches_unsalted_rule(spark):  # noqa: F811
    from sdc_spark.operators.similarity import semantic_dedup

    # near-identical vector triplet (1,5,9) + isolated vectors: the salted
    # cell join must still find every >threshold pair and keep-lowest-id
    rows = [(i, [1.0 + 0.001 * (i in (5, 9)), 2.0]) for i in (1, 5, 9)] + [
        (i, [float(i), 1.0]) for i in (20, 30, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_cells=2, threshold=0.95)
    got = {r["vec_id"]: (r["is_dup"], r["dup_of"]) for r in out.collect()}
    assert got[1] == (False, None)
    assert got[5] == (True, 1) and got[9] == (True, 1)
