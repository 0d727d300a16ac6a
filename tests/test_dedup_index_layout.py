"""Persisted dedup-index layout contracts — the plan properties that make
incremental near-dedup O(|batch|) per batch at a 100-TB corpus:

1. The corpus index is BUCKETED on the keys each consumer needs — bands on
   (band, bhash) for the candidate join, grams on doc for the verify
   aggregation — so the index side of every screen reads co-located
   buckets with NO Exchange; only the incoming batch shuffles.
2. The verify-side gram aggregation is semi-join-PRUNED to candidate docs
   BEFORE collect_set: Catalyst cannot push the verify join below the
   aggregate on its own, and the unpruned form re-aggregates the entire
   corpus index per batch (the round-9 perf_weak finding).
3. Appends preserve the bucket spec and lay down ~one file per bucket
   (repartition-first), so a long-running ingest loop does not decay into
   a small-files blizzard.
"""

from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from sdc_spark.materialize import start_plan_capture, stop_plan_capture
from sdc_spark.operators import dedup as sdedup
from sdc_spark.operators.maintenance import INDEX_BUCKETS
from sdc_spark.sources.readers import read_table

NAME = "layouttest"


@pytest.fixture(scope="module")
def corpus_and_batch(spark, sf_dir):
    doc = read_table(spark, sf_dir, "documents")
    return doc.filter(F.col("doc_id") % 5 != 0), doc.filter(F.col("doc_id") % 5 == 0)


@pytest.fixture(scope="module")
def index_tables(spark, corpus_and_batch, tmp_path_factory):
    existing, _ = corpus_and_batch
    root = str(tmp_path_factory.mktemp("lshidx"))
    sdedup.drop_lsh_index(spark, NAME, path_root=root)
    names = sdedup.write_lsh_index(
        spark, existing, "text", "doc_id", NAME, path_root=root
    )
    yield names, root
    sdedup.drop_lsh_index(spark, NAME, path_root=root)


def _no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return prev


def test_band_join_index_side_no_exchange(spark, corpus_and_batch, index_tables):
    """The candidate band join reads the bucketed band table directly:
    exactly ONE Exchange on (band, bhash) — the batch side — never two.
    (The join lives inside the materialized candidate frame, so it is
    observed through the materialize plan-capture hook.)"""
    (bands_t, grams_t), _ = index_tables
    _, new = corpus_and_batch
    prev = _no_broadcast(spark)
    try:
        cap = start_plan_capture()
        sdedup.screen_against_index(
            spark.table(bands_t), spark.table(grams_t), new, "text", "doc_id"
        )
        stop_plan_capture()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    band_plans = [p for p in cap if f"lsh_bands_{NAME}" in p]
    assert band_plans, "band-join plan not captured"
    # AQE plan strings repeat the tree under "== Initial Plan ==" — keep
    # only the executed (final) tree
    plan = band_plans[0].split("== Initial Plan ==")[0]
    assert "Bucketed: true" in plan, plan
    n_band_exchanges = plan.count("Exchange hashpartitioning(band")
    assert n_band_exchanges == 1, f"index side re-shuffled:\n{plan}"


def test_verify_semi_join_below_aggregate(spark, corpus_and_batch, index_tables):
    """The corpus gram index is pruned to candidate docs BELOW the
    collect_set aggregate (LeftSemi between partial_collect_set and the
    grams FileScan, with no Exchange in that chain — the bucketed scan
    feeds the aggregation in place)."""
    (bands_t, grams_t), _ = index_tables
    _, new = corpus_and_batch
    prev = _no_broadcast(spark)
    try:
        out = sdedup.screen_against_index(
            spark.table(bands_t), spark.table(grams_t), new, "text", "doc_id"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    lines = plan.splitlines()
    scan_idx = next(
        i for i, ln in enumerate(lines) if f"lsh_grams_{NAME}" in ln and "FileScan" in ln
    )
    assert "Bucketed: true" in lines[scan_idx], lines[scan_idx]
    agg_idx = max(
        i for i, ln in enumerate(lines[:scan_idx]) if "partial_collect_set" in ln
    )
    chain = lines[agg_idx:scan_idx]
    assert any("LeftSemi" in ln for ln in chain), "\n".join(chain)
    assert not any("Exchange" in ln for ln in chain), "\n".join(chain)
    # both sides pruned (corpus AND batch gram aggregations)
    assert plan.count("LeftSemi") >= 2, plan


def test_minhash_pairs_verify_side_pruned(spark, sf_dir):
    """Same prune applies to in-session all-pairs LSH: the hsets
    aggregation reads only candidate docs (LeftSemi below the aggregate),
    not the full corpus."""
    doc = read_table(spark, sf_dir, "documents")
    out = sdedup.minhash_lsh_pairs(doc, "text", "doc_id", threshold=0.8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    agg_idxs = [i for i, ln in enumerate(lines) if "partial_collect_set" in ln]
    assert agg_idxs, plan
    for i in agg_idxs:
        below = "\n".join(lines[i : i + 8])
        assert "LeftSemi" in below, below


def test_append_preserves_layout_and_bounds_files(
    spark, corpus_and_batch, index_tables
):
    """One append = ~one new file per bucket: after initial write + one
    batch append each index table holds at most 2 x INDEX_BUCKETS data files
    — and the appended index screens identically to an index rebuilt
    from scratch over corpus ∪ batch."""
    (bands_t, grams_t), root = index_tables
    existing, new = corpus_and_batch
    batch1 = new.filter(F.col("doc_id") % 2 == 0)
    batch2 = new.filter(F.col("doc_id") % 2 == 1)

    sdedup.append_lsh_index(spark, batch1, "text", "doc_id", NAME)
    spark.catalog.refreshTable(bands_t)
    spark.catalog.refreshTable(grams_t)

    for sub in ("bands", "grams"):
        files = glob.glob(f"{root}/{NAME}/{sub}/*.parquet")
        assert 0 < len(files) <= 2 * INDEX_BUCKETS, (sub, len(files))

    appended = sdedup.screen_against_index(
        spark.table(bands_t), spark.table(grams_t), batch2, "text", "doc_id"
    )
    rebuilt = sdedup.incremental_near_dups(
        existing.unionByName(batch1), batch2, "text", "doc_id"
    )
    a = {(r.corpus_doc, r.new_doc) for r in appended.collect()}
    b = {(r.corpus_doc, r.new_doc) for r in rebuilt.collect()}
    assert a == b


def test_compact_restores_file_bound_and_content(
    spark, corpus_and_batch, index_tables
):
    """After appends, compaction returns to ~one file per bucket with
    BIT-IDENTICAL contents (runs after the append test, so the index
    holds base + one appended batch here)."""
    (bands_t, grams_t), root = index_tables
    before_bands = {tuple(r) for r in spark.table(bands_t).collect()}
    before_grams = {tuple(r) for r in spark.table(grams_t).collect()}

    sdedup.compact_lsh_index(spark, NAME, path_root=root)
    spark.catalog.refreshTable(bands_t)
    spark.catalog.refreshTable(grams_t)

    for sub in ("bands", "grams"):
        files = glob.glob(f"{root}/{NAME}/{sub}/*.parquet")
        assert 0 < len(files) <= INDEX_BUCKETS, (sub, len(files))
    assert {tuple(r) for r in spark.table(bands_t).collect()} == before_bands
    assert {tuple(r) for r in spark.table(grams_t).collect()} == before_grams


def test_delete_equals_index_built_without_docs(
    spark, corpus_and_batch, index_tables, tmp_path_factory
):
    """Takedown path, deferred (default): the delete writes only the tiny
    tombstone log — the band/gram files are byte-untouched — yet screens
    passing the log stop reporting the docs immediately. Compaction then
    applies the log physically, leaving an index bit-identical to one
    built fresh WITHOUT the docs (the signature family is
    content-deterministic), and clears the log."""
    (bands_t, grams_t), root = index_tables
    existing, new = corpus_and_batch
    batch1 = new.filter(F.col("doc_id") % 2 == 0)

    def _files():
        return {
            (f, os.path.getsize(f))
            for sub in ("bands", "grams")
            for f in glob.glob(f"{root}/{NAME}/{sub}/*.parquet")
        }

    before_files = _files()
    sdedup.delete_from_lsh_index(
        spark, batch1.select("doc_id"), NAME, path_root=root
    )
    # O(|batch|) write: index files untouched, only the log was written
    assert _files() == before_files
    tomb = sdedup.lsh_tombstones(spark, NAME)
    assert tomb is not None

    deleted_ids = {r.doc_id for r in batch1.select("doc_id").collect()}
    still = sdedup.screen_against_index(
        spark.table(bands_t),
        spark.table(grams_t),
        new,
        "text",
        "doc_id",
        tombstones=tomb,
    )
    assert not [r for r in still.collect() if r.corpus_doc in deleted_ids]

    sdedup.compact_lsh_index(spark, NAME, path_root=root)
    spark.catalog.refreshTable(bands_t)
    spark.catalog.refreshTable(grams_t)
    assert sdedup.lsh_tombstones(spark, NAME) is None

    ref_root = str(tmp_path_factory.mktemp("lshref"))
    rb, rg = sdedup.write_lsh_index(
        spark, existing, "text", "doc_id", "layoutref", path_root=ref_root
    )
    assert {tuple(r) for r in spark.table(bands_t).collect()} == {
        tuple(r) for r in spark.table(rb).collect()
    }
    assert {tuple(r) for r in spark.table(grams_t).collect()} == {
        tuple(r) for r in spark.table(rg).collect()
    }
    # post-compaction screens need no tombstone frame
    still2 = sdedup.screen_against_index(
        spark.table(bands_t), spark.table(grams_t), new, "text", "doc_id"
    )
    assert not [r for r in still2.collect() if r.corpus_doc in deleted_ids]
    sdedup.drop_lsh_index(spark, "layoutref", path_root=ref_root)


def test_substring_index_side_no_exchange(spark, sf_dir, tmp_path_factory):
    """The persisted substring-gram index is bucketed on h: the screen's
    membership join reads it with NO Exchange between the FileScan and
    its join (a Sort at most) — only the batch side shuffles."""
    doc = read_table(spark, sf_dir, "documents")
    corpus = doc.filter(F.col("doc_id") % 5 != 0)
    batch = doc.filter(F.col("doc_id") % 5 == 0)
    root = str(tmp_path_factory.mktemp("subidx"))
    name = "sublayout"
    sdedup.drop_substring_index(spark, name, path_root=root)
    sdedup.write_substring_index(
        spark, corpus, "text", "doc_id", name, path_root=root
    )
    prev = _no_broadcast(spark)
    try:
        out = sdedup.screen_substrings_against_index(
            spark, batch, "text", "doc_id", name
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        sdedup.drop_substring_index(spark, name, path_root=root)
    lines = plan.splitlines()
    scan_idx = next(
        i
        for i, ln in enumerate(lines)
        if f"sub_grams_{name}" in ln and "FileScan" in ln
    )
    assert "Bucketed: true" in lines[scan_idx], lines[scan_idx]
    # the index branch between its join and the scan holds no Exchange
    chain = lines[max(0, scan_idx - 3) : scan_idx]
    assert not any("Exchange" in ln for ln in chain), "\n".join(chain)
