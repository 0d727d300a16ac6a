"""The benchmark's workloads: which registry queries one pass runs.

Every operation is a ``plans.registry`` query, called as
``QUERIES[name](spark, data_dir)`` on the fixed sf0.01 tables in
``perfbench/data/`` and checked against its DuckDB oracle ``ORACLES[name]``
on the same tables. The operations run in the listed order in every pass:
an operation's time depends on what the one before it left (JIT state,
garbage, shuffle files), and a seeded order moved a workload's pass wall by
up to 15% between seeds.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Op:
    name: str
    build: Callable[[], DataFrame]
    oracle_sql: str


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]

    def ops(self, spark: SparkSession, data_dir: str, queries: dict, oracles: dict) -> list[Op]:
        out = []
        for q in self.queries:
            if q not in oracles:
                raise KeyError(f"registry query {q} has no oracle")
            fn = queries[q]
            out.append(Op(q, lambda fn=fn: fn(spark, data_dir), oracles[q]))
        return out


WORKLOADS = {
    w.name: w
    for w in (
        # Catalyst scan and aggregate, frame, order and rolling; no index
        # store and no iterative loop: the control for index and
        # components work
        Workload(
            "analytics",
            (
                "q1_pricing_summary",
                "rolling_corr_cov",
                "frame_sorted_cumsum",
            ),
        ),
        # the iterative and persisted-index paths: the star
        # connected-components loop (materialize_lazy rounds, a driver gap
        # per round) and the posting index life cycle (bucketed build,
        # takedown delete with a stats rebuild, BM25 served from the index)
        Workload(
            "dedup_index",
            ("dedup_components_star", "retrieval_index_takedown"),
        ),
    )
}
