r"""The dump-release capstone: one graded query chaining the four gates
every training-dump release runs — exact dedup, near-dup survivor
selection (keep best quality), benchmark decontamination, quality
threshold — and emitting the per-stage manifest (doc count + token
budget) a release report is built from.

Every stage reuses an operator that is ALREADY individually graded
(exact_dedup, minhash_lsh_pairs → dedup_components →
keep_best_in_cluster, decontaminate, quality_score), so this query pins
their COMPOSITION: stage boundaries are where pipelines break (a
survivor set fed to the wrong side of an anti-join, a benchmark that
deduped itself away), and the DuckDB oracle re-derives the entire chain
from first principles (recursive-CTE components, exact all-pairs
Jaccard, 8-gram leakage scan).

Scale shape: each stage is the operator's own audited plan; the
manifest rows are five one-row aggregates unioned — nothing new
materializes beyond what the operators already stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.functions import text as stext
from sdc_spark.operators import dedup as sdedup
from sdc_spark.plans.llm_data import DUPE_ID_OFFSET, offset_dupe_id
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table

_Q_CUT = 0.57  # splits the synthetic corpus ~in half (median 0.569)


def _release_tail(s3: DataFrame, q_cut: float) -> DataFrame:
    """ONE conditional aggregate producing both tail manifest rows'
    numbers from the stage-3 frame (quality, n_tokens): stage 3's
    count/tokens plus stage 4's (quality-gated) count/tokens. n4 is
    coalesced to 0 — a count-like row must report 0 on an empty stage-3
    frame (F.sum is NULL over zero rows, where the pre-fusion manifest's
    F.count reported 0); t3/t4 stay plain sums (the old per-stage token
    sums were likewise NULL on empty). Module-level so the empty-input
    behavior is unit-testable."""
    gate = F.col("quality") >= q_cut
    return s3.agg(
        F.count(F.lit(1)).alias("n3"),
        F.sum("n_tokens").alias("t3"),
        F.coalesce(F.sum(gate.cast("long")), F.lit(0)).alias("n4"),
        F.sum(F.when(gate, F.col("n_tokens"))).alias("t4"),
    )


@query("pipeline_dump_release")
def pipeline_dump_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-gate manifest: raw → exact-dedup → best-quality near-dup
    survivor → 8-gram decontaminated vs the held-out slice → quality
    ≥ 0.57. Every 10th doc is re-injected as an exact duplicate so stage
    1 provably removes something; the doc_id%50 slice plays the held-out
    benchmark (its source docs are 100%-contaminated by construction and
    must drop at stage 3)."""
    from sdc_spark.materialize import materialize as _materialize
    from sdc_spark.operators.scan import spread_scan

    doc = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # offset_dupe_id raises on doc_id >= DUPE_ID_OFFSET, which also
    # covers the held-out guard below (every doc_id % 50 doc is copied)
    dupes = doc.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", offset_dupe_id(F.col("doc_id"))
    )
    # Every stage frame is materialized: the manifest makes each one a
    # MULTI-consumer node (its own count/sum row AND the next gate), and
    # Spark shares no subplan across consumers — un-materialized, the
    # five manifest rows replayed the whole upstream chain per row
    # (plan audit: scans=150; materialized: each gate runs once).
    # quality and the token count are computed once here and carried as
    # columns, so no later stage touches the text except decontamination.
    # The union is SPREAD before the quality pass (r12): a one-file scan
    # union resolves to 2 partitions, so un-spread, the heavy quality
    # regexes ran 2-wide AND every stage checkpoint inherited 1-2
    # partitions — making the map side of every downstream spread
    # exchange a 1-task text-reading bottleneck (profiled: two parallel
    # 2.0s 1-task stages under the fused tail alone). Spread once here,
    # the stage checkpoints carry 32 partitions and the downstream
    # spread_scan calls self-disable. (r11's A/B of the bare union
    # spread predated the shared-frame/expr-construction changes and
    # measured a wash; re-measured r12 with the inherited-width effect:
    # see OPTIMIZATION_r12.md.)
    corpus = spread_scan(doc.unionByName(dupes), "doc_id").select(
        "doc_id",
        "text",
        stext.quality_score("text").alias("quality"),
        stext.ws_token_count("text").alias("n_tokens"),
    ).transform(_materialize)

    keep1 = sdedup.exact_dedup(corpus, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    s1 = corpus.join(keep1, "doc_id", "left_semi").transform(_materialize)

    pairs = sdedup.minhash_lsh_pairs(s1, "text", "doc_id", threshold=0.8)
    best = sdedup.keep_best_in_cluster(
        s1.select("doc_id", "quality"), pairs, "doc_id", "quality"
    )
    # The survivor semi-join's output is AQE-coalesced to ONE partition at
    # bench scale (a few MB), so the s2 checkpoint collapsed to 1 partition
    # and the decontamination gram pass below started from a 1-task
    # full-text map stage (profiled: 1.9-3.3s CPU single-task per run,
    # ~25% of the query). Spreading BEFORE the checkpoint re-widens the
    # stage boundary once; spread_scan self-disables on any multi-partition
    # frame, so at real corpus scale this is a no-op (guide §2.5).
    # Measured A/B (same session): the s2 gram pass 2.2-3.2s → 0.3-0.5s.
    s2 = spread_scan(
        s1.join(
            best.filter(F.col("keep")).select(F.col("doc").alias("doc_id")),
            "doc_id",
            "left_semi",
        ),
        "doc_id",
    ).transform(_materialize)

    # The held-out slice is read from the MATERIALIZED corpus, not the
    # parquet file: it is exactly the original docs with doc_id%50==0
    # (re-injected dupes carry +DUPE_ID_OFFSET ids, so the id-range guard
    # excludes them; DUPE_ID_OFFSET%50==0 would otherwise alias dupes in), and
    # the corpus blocks already hold their text — re-scanning the
    # one-file parquet cost a fourth 1-task full-text scan per run.
    bench = corpus.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < DUPE_ID_OFFSET)
    ).select("doc_id", "text")
    contaminated = sdedup.decontaminate(
        s2, bench, "text", "doc_id", ngram=8
    ).select(F.col("doc").alias("doc_id"))
    # Stages 3 and 4 differ only by the (already-computed) quality gate,
    # and neither feeds a later stage — so instead of materializing s3
    # (a localCheckpoint carrying full text) and running two separate
    # aggregate jobs, ONE conditional aggregate over the anti-join
    # computes both manifest rows in a single pass. The 1-row result is
    # materialized so its two row-projections don't replay the chain.
    s3 = s2.join(contaminated, "doc_id", "left_anti").select(
        "quality", "n_tokens"
    )
    tail = _release_tail(s3, _Q_CUT).transform(_materialize)

    def manifest(stage: int, name: str, d: DataFrame) -> DataFrame:
        return d.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        ).select(
            F.lit(stage).alias("stage"),
            F.lit(name).alias("gate"),
            "n_docs",
            "n_tokens",
        )

    def tail_row(stage: int, name: str, n: str, t: str) -> DataFrame:
        return tail.select(
            F.lit(stage).alias("stage"),
            F.lit(name).alias("gate"),
            F.col(n).alias("n_docs"),
            F.col(t).alias("n_tokens"),
        )

    rows = [
        manifest(0, "raw", corpus),
        manifest(1, "exact_dedup", s1),
        manifest(2, "neardup_best_quality", s2),
        tail_row(3, "decontaminated", "n3", "t3"),
        tail_row(4, "quality_gate", "n4", "t4"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage")


oracle(
    "pipeline_dump_release",
    rf"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {DUPE_ID_OFFSET}, text FROM documents WHERE doc_id % 10 = 0
    ),
    keep1 AS (
        SELECT min(doc_id) AS doc_id
        FROM corpus
        GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
    ),
    s1 AS (SELECT c.* FROM corpus c JOIN keep1 k USING (doc_id)),
    toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM s1
    ),
    grams AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS s(i)
        GROUP BY doc_id, gram
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    prs AS (
        SELECT doc_a, doc_b
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.8
    ),
    e AS (
        SELECT doc_a AS u, doc_b AS v FROM prs
        UNION ALL SELECT doc_b, doc_a FROM prs
    ),
    walk(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e)
        UNION
        SELECT e.u, w.lbl FROM e JOIN walk w ON e.v = w.u
    ),
    comp AS (SELECT u AS doc, min(lbl) AS component FROM walk GROUP BY u),
    qual AS (
        SELECT doc_id,
               (CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                    / length(text)) * 0.4
               + (1.0 - CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                    / length(text)) * 0.2
               + least((CAST(len(regexp_extract_all(
                     regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                     '(^| )(the|and|of|to|is|with)( |$)')) AS DOUBLE)
                       / (CASE WHEN length(trim(text)) = 0 THEN 0
                               ELSE len(regexp_split_to_array(trim(text), '\s+'))
                          END)) * 4.0, 1.0) * 0.4 AS quality
        FROM s1
    ),
    labeled AS (
        SELECT q.doc_id, coalesce(c.component, q.doc_id) AS rep, q.quality
        FROM qual q LEFT JOIN comp c ON q.doc_id = c.doc
    ),
    s2 AS (
        SELECT doc_id, quality FROM (
            SELECT doc_id, quality,
                   row_number() OVER (PARTITION BY rep
                                      ORDER BY quality DESC, doc_id) AS rn
            FROM labeled
        ) WHERE rn = 1
    ),
    g8 AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8
                    THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                         || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                         || ' ' || t[i+7]
                    ELSE array_to_string(t, ' ') END AS gram
        FROM (
            SELECT doc_id,
                   string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                                ' ') AS t
            FROM s1 WHERE doc_id IN (SELECT doc_id FROM s2)
        ), UNNEST(generate_series(1, greatest(len(t) - 7, 1))) AS s(i)
        GROUP BY doc_id, gram
    ),
    bench8 AS (
        SELECT DISTINCT
               CASE WHEN len(t) >= 8
                    THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                         || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                         || ' ' || t[i+7]
                    ELSE array_to_string(t, ' ') END AS gram
        FROM (
            SELECT string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                                ' ') AS t
            FROM documents WHERE doc_id % 50 = 0
        ), UNNEST(generate_series(1, greatest(len(t) - 7, 1))) AS s(i)
    ),
    contaminated AS (
        SELECT DISTINCT g.doc_id FROM g8 g JOIN bench8 b ON g.gram = b.gram
    ),
    s3 AS (
        SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    s4 AS (SELECT * FROM s3 WHERE quality >= 0.57),
    ntok AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        FROM corpus
    )
    SELECT 0 AS stage, 'raw' AS gate, count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM corpus JOIN ntok USING (doc_id)
    UNION ALL
    SELECT 1, 'exact_dedup', count(*), CAST(sum(nt) AS BIGINT)
    FROM s1 JOIN ntok USING (doc_id)
    UNION ALL
    SELECT 2, 'neardup_best_quality', count(*), CAST(sum(nt) AS BIGINT)
    FROM s2 JOIN ntok USING (doc_id)
    UNION ALL
    SELECT 3, 'decontaminated', count(*), CAST(sum(nt) AS BIGINT)
    FROM s3 JOIN ntok USING (doc_id)
    UNION ALL
    SELECT 4, 'quality_gate', count(*), CAST(sum(nt) AS BIGINT)
    FROM s4 JOIN ntok USING (doc_id)
    ORDER BY stage
    """,
)
