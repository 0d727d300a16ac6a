"""Index lifecycle concurrency (VERDICT r10 item 7): appends racing a
compaction loop must not lose rows. Compaction is stage-then-replace —
unguarded, an append landing after the stage read and before the
replace is silently dropped. operators/maintenance.index_lock
serializes the writers (mkdir mutex, reentrant per process); this test
drives a real interleave: one thread appends batches while the main
thread compacts in a loop, then verifies the final index holds exactly
every appended document and still serves bit-identically to an
in-session run over the full corpus."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

import sdc_spark.operators.retrieval as sret
from sdc_spark.operators.maintenance import index_lock

NAME = "pytest_racelex"


@pytest.fixture()
def docs(spark, sf_dir):
    from sdc_spark.sources.readers import read_table

    return read_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_lock_is_mutual_and_reentrant(tmp_path):
    root = str(tmp_path / "idx")
    entered = []

    def holder():
        with index_lock(root):
            entered.append("a")
            time.sleep(0.5)
            entered.append("b")

    t = threading.Thread(target=holder)
    t.start()
    time.sleep(0.15)  # let the thread take the lock
    t0 = time.monotonic()
    with index_lock(root, timeout=10):
        waited = time.monotonic() - t0
        entered.append("c")
        with index_lock(root):  # reentrant: must not deadlock
            entered.append("d")
    t.join()
    assert entered == ["a", "b", "c", "d"]
    assert waited >= 0.25, waited  # actually blocked on the holder
    with pytest.raises(TimeoutError):
        with index_lock(root):
            # a SECOND thread (non-reentrant path) times out while held
            err = {}

            def contender():
                try:
                    with index_lock(root, timeout=0.3):
                        err["got"] = True
                except TimeoutError as e:
                    err["raise"] = e

            c = threading.Thread(target=contender)
            c.start()
            c.join()
            assert "raise" in err and "got" not in err
            raise err["raise"]


def test_append_racing_compaction_loses_nothing(spark, docs):
    """3 appends from a worker thread race a compaction loop on the main
    thread; every appended doc must survive into the final index."""
    q = spark.createDataFrame(
        [(0, "vector"), (0, "hash"), (1, "merge")], "qid int, term string"
    )
    base = docs.filter(F.col("doc_id") % 5 == 4)
    batches = [docs.filter(F.col("doc_id") % 5 == i) for i in range(3)]
    sret.drop_posting_index(spark, NAME)
    try:
        sret.write_posting_index(spark, base, "text", "doc_id", NAME)
        errs: list = []

        def appender():
            try:
                for b in batches:
                    sret.append_posting_index(spark, b, "text", "doc_id", NAME)
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        t = threading.Thread(target=appender)
        t.start()
        n_compacts = 0
        while t.is_alive():
            sret.compact_posting_index(spark, NAME)
            n_compacts += 1
        t.join()
        sret.compact_posting_index(spark, NAME)
        assert not errs, errs
        assert n_compacts >= 1  # the loop really ran against the appends

        spark.catalog.refreshTable(f"postings_{NAME}")
        expected_docs = {
            r["doc_id"]
            for r in docs.filter(F.col("doc_id") % 5 != 3)
            .select("doc_id")
            .collect()
        }
        stored = {
            r["doc"]
            for r in spark.table(f"postings_{NAME}").select("doc").distinct().collect()
        }
        assert stored == expected_docs  # nothing lost, nothing duplicated

        corpus = docs.filter(F.col("doc_id") % 5 != 3)
        served = {
            (r["qid"], r["doc"]): (r["n_hit_terms"], round(r["score"], 9))
            for r in sret.bm25_from_index(spark, NAME, q).collect()
        }
        insession = {
            (r["qid"], r["doc"]): (r["n_hit_terms"], round(r["score"], 9))
            for r in sret.bm25_multi(corpus, q, "text", "doc_id").collect()
        }
        assert served == insession
    finally:
        sret.drop_posting_index(spark, NAME)


def test_compaction_policy_from_file_stats(spark, docs):
    """needs_compaction reads pure filesystem arithmetic: fresh index →
    False; after enough appends (one file per bucket each) → True;
    after compaction → False again; a large tombstone log trips the
    log-fraction threshold independently of file counts."""
    from sdc_spark.operators.maintenance import (
        INDEX_BUCKETS,
        index_file_stats,
        needs_compaction,
    )

    root = "/tmp/sdc_spark_postidx"
    name = "pytest_policylex"
    idx_root = f"{root}/{name}"
    sret.drop_posting_index(spark, name)
    try:
        base = docs.filter(F.col("doc_id") % 6 == 5)
        sret.write_posting_index(spark, base, "text", "doc_id", name)
        assert not needs_compaction(idx_root, max_files_per_bucket=2.0)

        for i in range(3):
            sret.append_posting_index(
                spark, docs.filter(F.col("doc_id") % 6 == i), "text", "doc_id", name
            )
        st = index_file_stats(idx_root)
        assert st["data"]["postings"]["files"] > 2 * INDEX_BUCKETS
        assert needs_compaction(idx_root, max_files_per_bucket=2.0)

        sret.compact_posting_index(spark, name)
        assert not needs_compaction(idx_root, max_files_per_bucket=2.0)

        # tombstone pressure: delete most of the corpus -> log bytes
        # cross the fraction threshold even though file counts are fine
        gone = docs.filter(F.col("doc_id") % 6 <= 3).select("doc_id")
        sret.delete_from_posting_index(spark, gone, name)
        st2 = index_file_stats(idx_root)
        assert st2["log_bytes"] > 0
        assert needs_compaction(
            idx_root, max_files_per_bucket=100.0, max_log_fraction=0.01
        )
        # and the cron form applies exactly the needed compactions
        from sdc_spark.operators.maintenance import compact_indexes

        compact_indexes(
            spark,
            [{"kind": "posting", "name": name, "path_root": root,
              "max_files_per_bucket": 100.0, "max_log_fraction": 0.01}],
            only_if_needed=True,
        )
        assert sret.posting_tombstones(spark, name) is None
        assert not needs_compaction(
            idx_root, max_files_per_bucket=100.0, max_log_fraction=0.01
        )
    finally:
        sret.drop_posting_index(spark, name)
