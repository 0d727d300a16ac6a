"""Cross-index takedown orchestrator: one removal request fans across
all four persisted index families as deferred tombstone deletes, every
serve path stops returning the docs immediately, and compact_indexes
applies the logs physically. The per-family delete/serve/compact
contracts are pinned in their own suites; this pins the fan-out."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import sdc_spark.operators.dedup as sdedup
import sdc_spark.operators.retrieval as sret
import sdc_spark.operators.similarity as ssim
from sdc_spark.operators.maintenance import (
    compact_indexes,
    index_file_stats,
    takedown_documents,
)
from sdc_spark.sources.readers import read_table

NAME = "tdorch"


def test_takedown_fans_across_all_four_families(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("tdorch"))
    doc = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(spark, sf_dir, "embeddings")

    sret.drop_posting_index(spark, NAME, path_root=f"{root}/post")
    sdedup.drop_lsh_index(spark, NAME, path_root=f"{root}/lsh")
    sdedup.drop_substring_index(spark, NAME, path_root=f"{root}/sub")
    ssim.drop_ivf_index(NAME, path_root=f"{root}/ivf")

    sret.write_posting_index(
        spark, doc, "text", "doc_id", NAME, path_root=f"{root}/post"
    )
    bands_t, grams_t = sdedup.write_lsh_index(
        spark, doc, "text", "doc_id", NAME, path_root=f"{root}/lsh"
    )
    sdedup.write_substring_index(
        spark, doc, "text", "doc_id", NAME, min_len=20, path_root=f"{root}/sub"
    )
    cent_p, cells_p = ssim.write_ivf_index(
        spark, emb, name=NAME, path_root=f"{root}/ivf"
    )

    indexes = [
        {"kind": "posting", "name": NAME, "path_root": f"{root}/post"},
        {"kind": "lsh", "name": NAME, "path_root": f"{root}/lsh"},
        {"kind": "substring", "name": NAME, "path_root": f"{root}/sub",
         "min_len": 20},
        {"kind": "ivf", "name": NAME, "path_root": f"{root}/ivf"},
    ]

    # substring listed but no text column -> loud refusal, nothing deleted
    with pytest.raises(ValueError):
        takedown_documents(spark, doc.select("doc_id").limit(1), indexes)
    # unknown kind -> loud refusal before any delete
    with pytest.raises(ValueError):
        takedown_documents(
            spark, doc, indexes + [{"kind": "bloom", "name": NAME}]
        )

    removed = doc.filter(F.col("doc_id") % 4 == 0)
    removed_ids = {r["doc_id"] for r in removed.select("doc_id").collect()}
    assert removed_ids
    takedown_documents(spark, removed, indexes)

    def assert_all_excluded():
        q = spark.createDataFrame(
            [(0, "vector"), (0, "hash"), (1, "merge")], "qid int, term string"
        )
        served = {r["doc"] for r in sret.bm25_from_index(spark, NAME, q).collect()}
        assert served and not served & removed_ids

        pairs = sdedup.screen_against_index(
            spark.table(bands_t),
            spark.table(grams_t),
            doc,
            "text",
            "doc_id",
            threshold=0.8,
            tombstones=sdedup.lsh_tombstones(spark, NAME),
        )
        assert not {r["corpus_doc"] for r in pairs.collect()} & removed_ids

        qv = emb.filter(F.col("vec_id") < 5)
        hits = ssim.ann_ivf_search_index(spark, cent_p, cells_p, qv, k=5, nprobe=16)
        assert not {r["nid"] for r in hits.collect()} & removed_ids

        # a survivor's text screened against the index must not mark a
        # span that existed ONLY in removed docs; a shared gram still
        # marks — full semantics pinned in test_substring_dedup; here we
        # just pin that the membership set shrank to the survivors' grams
        member = sdedup.substring_membership(spark, NAME)
        surv_grams = (
            sdedup._kgram_positions(
                doc.filter(~F.col("doc_id").isin(list(removed_ids))),
                "text",
                "doc_id",
                20,
            )
            .select("h")
            .distinct()
        )
        extra = member.join(surv_grams, "h", "left_anti").count()
        assert extra == 0, f"{extra} gram hashes outlive their only owners"

    assert_all_excluded()
    compact_indexes(spark, indexes)
    spark.catalog.refreshTable(f"postings_{NAME}")
    spark.catalog.refreshTable(bands_t)
    spark.catalog.refreshTable(grams_t)
    spark.catalog.refreshTable(f"sub_grams_{NAME}")
    # logs cleared everywhere
    assert sret.posting_tombstones(spark, NAME) is None
    assert sdedup.lsh_tombstones(spark, NAME) is None
    assert ssim.ivf_tombstones(spark, cells_p) is None
    # no delete-side directory survives in any family (substring's
    # dels/dead/deldocs included)
    for fam in ("post", "lsh", "sub", "ivf"):
        assert index_file_stats(f"{root}/{fam}/{NAME}")["logs"] == {}, fam
    assert_all_excluded()

    sret.drop_posting_index(spark, NAME, path_root=f"{root}/post")
    sdedup.drop_lsh_index(spark, NAME, path_root=f"{root}/lsh")
    sdedup.drop_substring_index(spark, NAME, path_root=f"{root}/sub")
    ssim.drop_ivf_index(NAME, path_root=f"{root}/ivf")


def test_compact_indexes_survives_one_failed_index(spark, sf_dir, tmp_path_factory):
    """compact_indexes' contract: one failing index (here: one that was
    never written) does not skip the others — every listed index is
    still compacted — and the first error is raised after the loop."""
    root = str(tmp_path_factory.mktemp("compact_err"))
    doc = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    name = "compact_err"
    sret.drop_posting_index(spark, name, path_root=root)
    sret.write_posting_index(spark, doc, "text", "doc_id", name, path_root=root)
    try:
        sret.delete_from_posting_index(
            spark, doc.filter(F.col("doc_id") % 4 == 0), name, path_root=root
        )
        assert sret.posting_tombstones(spark, name) is not None
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            compact_indexes(
                spark,
                [
                    {"kind": "posting", "name": "never_written", "path_root": root},
                    {"kind": "posting", "name": name, "path_root": root},
                ],
            )
        assert sret.posting_tombstones(spark, name) is None
        assert index_file_stats(f"{root}/{name}")["logs"] == {}
    finally:
        sret.drop_posting_index(spark, name, path_root=root)
