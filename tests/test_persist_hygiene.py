"""Persist-mode block-release hygiene for iterative operators.

Under ``spark.sdc.materialize.mode=persist`` every loop round persists a
new snapshot; the superseded round's blocks are never read again, so the
loops must unpersist them as they go — otherwise a 100-round job on a
100-TB intermediate accumulates the whole history in the block manager.
This test runs the iterative connected-components loop on a chain graph
(which forces many rounds) and asserts the persisted-RDD count at the end
is BOUNDED (final state only), not proportional to iterations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sdc_spark.materialize import MODE_KEY
from sdc_spark.operators.dedup import dedup_components


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture()
def persist_mode(spark):
    old = spark.conf.get(MODE_KEY, "localCheckpoint")
    spark.conf.set(MODE_KEY, "persist")
    yield spark
    spark.conf.set(MODE_KEY, old)


def _chain_pairs(spark, n: int):
    return spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )


def test_components_star_releases_superseded_rounds(persist_mode):
    """A 64-node chain needs ~log2(64) large/small-star alternations, each
    materializing 2 frames; without per-round release the block manager
    would hold ~12+ persisted RDDs here. Bound: baseline + 2 (the final
    edge set survives — it IS the result — plus one boundary frame)."""
    spark = persist_mode
    base = _n_persistent(spark)
    out = dedup_components(_chain_pairs(spark, 64)).collect()
    assert {r.component for r in out} == {0}
    assert len(out) == 64
    after = _n_persistent(spark)
    assert after - base <= 2, (
        f"dedup_components leaked persisted RDDs: {base} -> {after} "
        "(per-round unmaterialize missing?)"
    )
