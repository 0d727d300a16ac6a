"""Training-data pipeline coverage: dedup (exact / MinHash-LSH / n-gram
Jaccard / SimHash / embedding), similarity search, text analysis,
multimodal plumbing — the BASELINE.json north-star extensions.

Oracles are exact by construction: probabilistic operators (MinHash LSH)
emit exact-verified results whose miss probability is < 1e-7, so they
hash-match the exact all-pairs SQL; float-scored outputs emit ids only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.functions import text as stext
from sdc_spark.operators import dedup as sdedup
from sdc_spark.operators import multimodal as smm
from sdc_spark.operators import similarity as ssim
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


def _sf_tag(sf_dir: str) -> str:
    """Catalog-safe per-sf suffix (table names reject '.' and '/')."""
    import os
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))

# Shared DuckDB shingle CTE (word trigrams over normalized text) — the SQL
# twin of operators.dedup.word_ngrams.
_GRAMS_SQL = r"""
    toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM documents
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
    pairs AS (
        SELECT doc_a, doc_b,
               CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jac
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
    )
"""

# Shared DuckDB connected-components CTE over _GRAMS_SQL's verified pairs
# (J >= 0.8): recursive transitive closure, component = min reachable id —
# the SQL twin of operators.dedup.dedup_components. Needs WITH RECURSIVE.
_COMPONENTS_SQL = """
    e AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs WHERE jac >= 0.8
        UNION ALL
        SELECT doc_b, doc_a FROM pairs WHERE jac >= 0.8
    ),
    walk(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e)
        UNION
        SELECT e.u, w.lbl FROM e JOIN walk w ON e.v = w.u
    ),
    comp AS (SELECT u AS doc, min(lbl) AS component FROM walk GROUP BY u)
"""

_COMPONENTS_ORACLE = (
    f"WITH RECURSIVE {_GRAMS_SQL}, {_COMPONENTS_SQL} SELECT doc, component FROM comp"
)

# Re-injected duplicates carry ``doc_id + DUPE_ID_OFFSET`` (dedup_exact,
# dedup_containment, pipeline_dump_release); the oracles inject the same
# offset, and the release query's held-out guard tells originals from
# copies by ``doc_id < DUPE_ID_OFFSET``.
DUPE_ID_OFFSET = 1_000_000


def offset_dupe_id(doc_id: Column) -> Column:
    """``doc_id + DUPE_ID_OFFSET`` for a re-injected copy. Raises inside
    the copy's own projection (no extra job) when ``doc_id`` reaches the
    offset: the copy's id would then alias a real doc id, and the
    release query's ``doc_id < DUPE_ID_OFFSET`` held-out guard would
    silently drop the original. Every held-out doc (doc_id % 50 == 0) is
    in the copied slice (doc_id % 10 == 0), so the guard is covered."""
    return F.when(doc_id < DUPE_ID_OFFSET, doc_id + DUPE_ID_OFFSET).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"doc_id must be < DUPE_ID_OFFSET={DUPE_ID_OFFSET}, got "),
                doc_id.cast("string"),
            )
        )
    )


@query("dedup_exact")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a 16-byte content hash (shuffles hashes, not text).
    The corpus has no exact dups, so every 10th doc is re-injected with a
    shifted id — groups of size 2 must keep the original id."""
    doc = _t(spark, sf_dir, "documents")
    dupes = doc.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", offset_dupe_id(F.col("doc_id"))
    )
    return sdedup.exact_dedup(doc.unionByName(dupes), "text", "doc_id")


oracle(
    "dedup_exact",
    rf"""
    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {DUPE_ID_OFFSET}, text FROM documents WHERE doc_id % 10 = 0
    )
    GROUP BY 1
    """,
)


@query("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) → 32×4 LSH banding → exact-Jaccard verification at 0.8.
    P(miss | J=0.8) ≈ 4e-8, so the output equals the exact all-pairs
    answer (the oracle) while scaling ~linearly."""
    return sdedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.8
    )


oracle(
    "dedup_minhash_lsh",
    f"WITH {_GRAMS_SQL} SELECT doc_a, doc_b, jac FROM pairs WHERE jac >= 0.8",
)


@query("dedup_ngram_jaccard")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ 0.5 via the inverted shingle index.
    The default max_doc_freq=1000 cap exceeds the sf0.01 corpus size, so
    the run is exact and hash-matches the exact all-pairs oracle; at web
    scale the cap bounds the hot-shingle quadratic blowup."""
    return sdedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5
    )


oracle(
    "dedup_ngram_jaccard",
    f"WITH {_GRAMS_SQL} SELECT doc_a, doc_b, jac FROM pairs WHERE jac >= 0.5",
)


@query("dedup_containment")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset dedup: n-gram CONTAINMENT pairs (C(A,B)=|A∩B|/|A| ≥
    0.8 on the max side) — the quote-expansion duplicate class Jaccard
    misses (a short doc wrapped in boilerplate has containment ≈ 1 but
    Jaccard ≈ |short|/|long|). Every 10th doc is re-injected wrapped in a
    boilerplate tail, so the corpus provably contains supersets whose
    Jaccard is diluted; the pair plan is the same capped inverted index
    as dedup_ngram_jaccard (one scan, 8-byte gram keys, candidate-pruned
    sizes)."""
    doc = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = doc.filter(F.col("doc_id") % 10 == 0).select(
        offset_dupe_id(F.col("doc_id")).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(
                " standard footer legal notice applies contact site admin"
                " for removal requests all rights reserved"
            ),
        ).alias("text"),
    )
    # max_doc_freq=None: the oracle computes exact uncapped all-pairs, so
    # the graded query must be exact too — the injected boilerplate tail
    # is shared by 10% of docs, and at corpora past ~10k docs the default
    # df cap would prune those grams while the oracle counts them (the
    # documented convention, same as dedup_ngram_jaccard's docstring)
    pairs = sdedup.ngram_containment_pairs(
        doc.unionByName(wrapped), "text", "doc_id", threshold=0.8,
        max_doc_freq=None,
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round("cont_a", 4).alias("cont_a"),
        F.round("cont_b", 4).alias("cont_b"),
        F.round("containment", 4).alias("containment"),
    )


oracle(
    "dedup_containment",
    rf"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {DUPE_ID_OFFSET},
               text || ' standard footer legal notice applies contact site admin'
                    || ' for removal requests all rights reserved'
        FROM documents WHERE doc_id % 10 = 0
    ),
    toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM corpus
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
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / CAST(sa.sz AS DOUBLE), 4) AS cont_a,
           round(CAST(i AS DOUBLE) / CAST(sb.sz AS DOUBLE), 4) AS cont_b,
           round(greatest(CAST(i AS DOUBLE) / CAST(sa.sz AS DOUBLE),
                          CAST(i AS DOUBLE) / CAST(sb.sz AS DOUBLE)), 4)
               AS containment
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE greatest(CAST(i AS DOUBLE) / CAST(sa.sz AS DOUBLE),
                   CAST(i AS DOUBLE) / CAST(sb.sz AS DOUBLE)) >= 0.8
    """,
)


@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (chunk-bucketed, hamming ≤ 8).
    Signatures are engine-specific (xxhash64), so the GRADED surface is
    a precision audit (the `agg_approx_sketch` pattern): every reported
    pair's EXACT word-trigram Jaccard is re-computed and the emitted
    booleans — at least one pair found, and 100% of pairs with
    J >= 0.5 — are deterministic-true under the fixed hash (measured:
    min pair Jaccard 0.90 at both sf0.001 and sf0.01, so the 0.5 bound
    has ~2x margin). n_docs anchors the audit to an exactly-oracled
    value. Cross-validated against minhash pairs in
    tests/test_llm_data.py."""
    doc = _t(spark, sf_dir, "documents")
    pairs = sdedup.simhash_near_dups(doc, "text", "doc_id")
    g = sdedup.with_grams(doc, "text", "doc_id")
    scored = (
        pairs.join(g.select(F.col("doc").alias("doc_a"), F.col("grams").alias("ga")), "doc_a")
        .join(g.select(F.col("doc").alias("doc_b"), F.col("grams").alias("gb")), "doc_b")
        .select(sdedup.jaccard(F.col("ga"), F.col("gb")).alias("jac"))
    )
    audit = scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.col("jac") >= 0.5).alias("precision_ok"),
    )
    n_docs = doc.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(audit).select(
        "n_docs",
        (F.col("n_pairs") >= 1).alias("pairs_found"),
        F.coalesce("precision_ok", F.lit(False)).alias("precision_ok"),
    )


oracle(
    "dedup_simhash",
    """
    SELECT count(*) AS n_docs, TRUE AS pairs_found, TRUE AS precision_ok
    FROM documents
    """,
)


@query("dedup_embedding")
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with label blocking (block join turns
    O(n²) into Σ O(block²)); ids only — float-noise-proof."""
    out = sdedup.embedding_near_dups(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id", "label", threshold=0.4
    )
    return out.select("block", "vec_a", "vec_b")


oracle(
    "dedup_embedding",
    """
    WITH p AS (
        SELECT a.label AS block, a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.embedding AS ea, b.embedding AS eb
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    ), d AS (
        SELECT block, vec_a, vec_b,
               sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
               sqrt(sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)))
                   * sqrt(sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))) AS nn
        FROM p, UNNEST(generate_series(1, len(ea))) AS s(i)
        GROUP BY 1, 2, 3
    )
    SELECT block, vec_a, vec_b FROM d WHERE dot / nn >= 0.4
    """,
)


@query("ann_cosine_topk")
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 10 query vectors: broadcast
    queries × one corpus scan → per-query window rank. ids only."""
    emb = _t(spark, sf_dir, "embeddings")
    return ssim.ann_bruteforce_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


oracle(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT qid, v.vec_id AS nid,
               sum(CAST(qv[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))
                   / (sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
                      * sqrt(sum(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))) AS c
        FROM q JOIN embeddings v ON v.vec_id <> qid,
             UNNEST(generate_series(1, len(qv))) AS s(i)
        GROUP BY qid, nid
    )
    SELECT qid, rank, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)


def _ann_recall_audit(
    approx: DataFrame,
    exact: DataFrame,
    queries_df: DataFrame,
    k: int,
    theta: float,
    per_query: bool,
) -> DataFrame:
    """Error-bound audit for approximate top-k (the `agg_approx_sketch`
    pattern): recall is measured against the already-oracled brute-force
    twin under the fixed hash seed, so the emitted booleans are
    deterministic-true and the oracle is exact SQL — a rows-only row
    becomes a fully graded one. `per_query` emits a row per query vector
    (only when per-query recall is stably above theta); otherwise ONE
    row bounds the mean recall, which is the stable statistic when
    individual queries can land in unlucky cells/codebooks."""
    qids = queries_df.select(F.col("vec_id").alias("qid"))
    hits = (
        approx.join(exact.select("qid", "nid"), ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    per = (
        qids.join(approx.groupBy("qid").agg(F.count(F.lit(1)).alias("n_ret")), "qid", "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_ret", F.lit(0)).alias("n_ret"),
            F.coalesce("hits", F.lit(0)).alias("hits"),
        )
    )
    if per_query:
        return per.select(
            "qid",
            (F.col("n_ret") <= k).alias("found_le_k"),
            (F.col("hits") >= F.lit(float(theta * k))).alias("recall_ok"),
        )
    return per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.max("n_ret") <= k).alias("per_query_le_k"),
        (
            F.sum("hits") >= F.lit(theta) * F.count(F.lit(1)) * F.lit(float(k))
        ).alias("mean_recall_ok"),
    )


@query("ann_lsh_topk")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5 (multi-probe). Bucket hashes are
    engine-specific, so the GRADED surface is a per-query recall audit
    vs the brute-force twin: recall@5 >= 0.6 per query vector
    (measured 1.0 at sf0.001 and sf0.01 under the fixed xxhash64
    planes — deterministic-true with wide margin)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    approx = ssim.ann_lsh_topk(emb, q, k=5)
    exact = ssim.ann_bruteforce_topk(emb, q, k=5)
    return _ann_recall_audit(approx, exact, q, k=5, theta=0.6, per_query=True)


oracle(
    "ann_lsh_topk",
    """
    SELECT vec_id AS qid, TRUE AS found_le_k, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)


@query("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse-quantizer) approximate top-5 — deterministic seeded
    centroids + one Lloyd step, nprobe-cell search. Cell boundaries are
    engine-specific, so the GRADED surface is the mean-recall audit vs
    the brute-force twin: mean recall@5 over the 10 query vectors
    >= 0.25 (measured 0.58 / 0.54 at sf0.001 / sf0.01 — >2x margin;
    per-query recall is NOT bounded because an unlucky query can land
    all its neighbors outside the nprobe=4 probed cells)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    approx = ssim.ann_ivf_topk(emb, q, k=5, n_cells=16, nprobe=4)
    exact = ssim.ann_bruteforce_topk(emb, q, k=5)
    return _ann_recall_audit(approx, exact, q, k=5, theta=0.25, per_query=False)


oracle(
    "ann_ivf_topk",
    """
    SELECT count(*) AS n_queries, TRUE AS per_query_le_k, TRUE AS mean_recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)


@query("ann_ivf_persisted")
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index ANN — the production search shape: the IVF
    codebook + cell-partitioned vector index are WRITTEN ONCE
    (similarity.py:write_ivf_index) and each query batch searches the
    reloaded index (ann_ivf_search_index) reading ONLY its probed
    cells' directories via static partition pruning (plan-pinned in
    tests/test_ivf_index.py). The codebook is deterministic, so the
    graded surface is strict: the persisted-index result must EQUAL the
    in-session ann_ivf_topk result row-for-row (matches_insession), on
    top of the same mean-recall bound vs the brute-force twin."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    import os
    import re

    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    cent_p, cells_p = ssim.write_ivf_index(spark, emb, name=f"ivfidx_{tag}")
    approx = ssim.ann_ivf_search_index(spark, cent_p, cells_p, q, k=5, nprobe=4)
    insess = ssim.ann_ivf_topk(emb, q, k=5, n_cells=16, nprobe=4)
    exact = ssim.ann_bruteforce_topk(emb, q, k=5)
    audit = _ann_recall_audit(approx, exact, q, k=5, theta=0.25, per_query=False)
    n_a = approx.agg(F.count(F.lit(1)).alias("n_a"))
    n_i = insess.agg(F.count(F.lit(1)).alias("n_i"))
    n_m = approx.join(insess, ["qid", "rank", "nid"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_m")
    )
    return (
        audit.crossJoin(n_a)
        .crossJoin(n_i)
        .crossJoin(n_m)
        .select(
            "n_queries",
            "per_query_le_k",
            "mean_recall_ok",
            ((F.col("n_a") == F.col("n_m")) & (F.col("n_i") == F.col("n_m"))).alias(
                "matches_insession"
            ),
        )
    )


oracle(
    "ann_ivf_persisted",
    """
    SELECT count(*) AS n_queries, TRUE AS per_query_le_k,
           TRUE AS mean_recall_ok, TRUE AS matches_insession
    FROM embeddings WHERE vec_id < 10
    """,
)


@query("ann_ivf_ingest_loop")
def ann_ivf_ingest_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL persisted-ANN ingest loop — the similarity-search twin of
    dedup_index_ingest_loop: batch N is searched against the persisted
    cell-partitioned index, then APPENDED to it under the EXISTING
    codebook (similarity.py:append_ivf_index — no re-clustering, so cell
    semantics stay stable), and batch N+1's search sees corpus ∪ batch N.
    Search batch 1 is materialized before the append so it cannot
    observe the index growth. Graded STRICTLY: each persisted-index
    search must equal, row-for-row, an in-session search built from the
    same reloaded codebook over the same corpus state (probe + rank
    logic is shared code — similarity.py:_ivf_probes/_ivf_rank — so any
    divergence is a storage/append bug, exactly what the grade should
    catch). Queries are capped at 100/batch: the grade is structural
    (round-trip + append correctness), not throughput."""
    import os
    import re

    from sdc_spark.materialize import materialize

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 >= 2)
    batch1 = emb.filter(F.col("vec_id") % 5 == 0)
    batch2 = emb.filter(F.col("vec_id") % 5 == 1)
    q1 = batch1.filter(F.col("vec_id") < 500)
    q2 = batch2.filter(F.col("vec_id") < 500)

    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    name = f"ivfloop_{tag}"
    # the index MUTATES (append) — rebuild fresh per run, never resume
    ssim.drop_ivf_index(name)
    cent_p, cells_p = ssim.write_ivf_index(spark, corpus, name=name)

    s1 = materialize(
        ssim.ann_ivf_search_index(spark, cent_p, cells_p, q1, k=5, nprobe=4)
    )
    ssim.append_ivf_index(spark, batch1, cent_p, cells_p)
    s2 = materialize(
        ssim.ann_ivf_search_index(spark, cent_p, cells_p, q2, k=5, nprobe=4)
    )

    cent = spark.read.parquet(cent_p)

    def vsel(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("vec_id").alias("nid"),
            F.col("embedding").alias("nvec"),
            ssim.norm(F.col("embedding")).alias("nrm"),
        )

    def qsel(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            ssim.norm(F.col("embedding")).alias("qnrm"),
        )

    # ONE corpus assignment pass feeds BOTH in-session verification
    # rankings (guide §1.2): ivf_assign is per-vector (crossJoin with the
    # broadcast codebook + per-id argmax) and the corpus/batch id sets are
    # disjoint, so assign(corpus ∪ batch1) ≡ assign(corpus) ∪ assign(batch1)
    # row-for-row. Un-shared, t2 re-ran the full-corpus assignment the t1
    # subtree had already computed — a redundant full corpus scan +
    # n_cells-wide score pass per run at 100 TB. The shared frame is
    # materialized because Spark shares no subplan across the two
    # verification branches (same discipline as ml.kmeans_fit's feature
    # frame, r11 §9).
    a_corpus = materialize(ssim.ivf_assign(vsel(corpus), cent, "nid", "nvec"))
    t1 = ssim._ivf_rank(
        a_corpus,
        ssim._ivf_probes(cent, qsel(q1), 4),
        5,
    )
    t2 = ssim._ivf_rank(
        a_corpus.unionByName(ssim.ivf_assign(vsel(batch1), cent, "nid", "nvec")),
        ssim._ivf_probes(cent, qsel(q2), 4),
        5,
    )

    def match_flag(got: DataFrame, want: DataFrame, label: str) -> DataFrame:
        ng = got.agg(F.count(F.lit(1)).alias("__g"))
        nw = want.agg(F.count(F.lit(1)).alias("__w"))
        nm = got.join(want, ["qid", "rank", "nid"], "left_semi").agg(
            F.count(F.lit(1)).alias("__m")
        )
        return (
            ng.crossJoin(nw)
            .crossJoin(nm)
            .select(
                (
                    (F.col("__g") == F.col("__m")) & (F.col("__w") == F.col("__m"))
                ).alias(label)
            )
        )

    nq = emb.agg(
        F.sum(((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 500)).cast("long")).alias(
            "n_q1"
        ),
        F.sum(((F.col("vec_id") % 5 == 1) & (F.col("vec_id") < 500)).cast("long")).alias(
            "n_q2"
        ),
    )
    return (
        nq.crossJoin(match_flag(s1, t1, "batch1_matches"))
        .crossJoin(match_flag(s2, t2, "batch2_matches"))
        .select("n_q1", "n_q2", "batch1_matches", "batch2_matches")
    )


oracle(
    "ann_ivf_ingest_loop",
    """
    SELECT CAST(sum(CASE WHEN vec_id % 5 = 0 AND vec_id < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_q1,
           CAST(sum(CASE WHEN vec_id % 5 = 1 AND vec_id < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_q2,
           TRUE AS batch1_matches, TRUE AS batch2_matches
    FROM embeddings
    """,
)


@query("ann_lsh_multiprobe")
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH vs single-probe at the SAME table count
    (operators/similarity.py:ann_lsh_topk, multiprobe = perturbation
    radius — the production knob: probing neighbor buckets buys recall
    without growing the corpus-side index). Graded surface: single-probe
    mean recall@5 bounded at 0.5 (measured 0.68 at sf0.001 AND sf0.01
    under the fixed xxhash64 planes), radius-2 multi-probe bounded
    STRICTLY higher at 0.8 (measured 1.0 at both) — and multi_ge_single
    is structurally true: probe sets are nested, so candidate sets are
    supersets and hit counts vs the exact top-5 are monotone in the
    radius. Three one-row aggregates cross-joined (the sketch-audit
    pattern) — each survives any scale-up."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = ssim.ann_bruteforce_topk(emb, q, k=5)

    def tot_hits(approx: DataFrame, name: str) -> DataFrame:
        return (
            approx.join(exact.select("qid", "nid"), ["qid", "nid"], "left_semi")
            .agg(F.count(F.lit(1)).alias(name))
        )

    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    hs = tot_hits(ssim.ann_lsh_topk(emb, q, k=5, multiprobe=False), "hs")
    hm = tot_hits(ssim.ann_lsh_topk(emb, q, k=5, multiprobe=2), "hm")
    return (
        nq.crossJoin(hs)
        .crossJoin(hm)
        .select(
            "n_queries",
            (F.col("hs") >= F.col("n_queries") * F.lit(0.5 * 5)).alias(
                "single_recall_ok"
            ),
            (F.col("hm") >= F.col("n_queries") * F.lit(0.8 * 5)).alias(
                "multi_recall_ok"
            ),
            (F.col("hm") >= F.col("hs")).alias("multi_ge_single"),
        )
    )


oracle(
    "ann_lsh_multiprobe",
    """
    SELECT count(*) AS n_queries, TRUE AS single_recall_ok,
           TRUE AS multi_recall_ok, TRUE AS multi_ge_single
    FROM embeddings WHERE vec_id < 10
    """,
)


@query("text_tokens")
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        stext.ws_token_count("text").alias("ws_tokens"),
        stext.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


oracle(
    "text_tokens",
    r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
    FROM documents
    """,
)


@query("text_html_extract")
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/text.py:html_to_text — the
    first stage of a crawl-derived training pipeline): each document is
    wrapped in realistic page chrome (head/style/script blocks, nav
    links, a multi-line comment, entities, a list), then the pure
    regexp-chain extractor recovers the content. The oracle EXECUTES
    the identical synthesis + extraction in DuckDB (RE2 twins of every
    Java-regex step), so the comparison is exact string equality over
    the full extracted text — not a rubber-stamp boolean. JVM-side,
    whole-stage-codegen, zero UDFs; at 100 TB this is one narrow
    projection per scan."""
    doc = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            '<html><head><title>Doc</title><STYLE>p{color:red}</STYLE>'
            '<script>if(1<2&&3>0){var x="</p>";}</script>'
            '<SCRIPT type="text/javascript">var y=2;</SCRIPT></head><body>'
            '<div class="nav"><a href="/">Home</a>|<a href="/a">About</a></div>'
            "<!-- boilerplate\n comment --><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>Rating: 4 &amp; 5 &lt;stars&gt;</p><p>"),
        F.col("text"),
        F.lit("</p><br><ul><li>tag one</li><li>tag&nbsp;two</li></ul></body></html>"),
    )
    return doc.select(
        "doc_id", stext.html_to_text(html).alias("extracted")
    ).orderBy("doc_id")


oracle(
    "text_html_extract",
    r"""
    WITH synth AS (
        SELECT doc_id,
               '<html><head><title>Doc</title><STYLE>p{color:red}</STYLE>'
               || '<script>if(1<2&&3>0){var x="</p>";}</script>'
               || '<SCRIPT type="text/javascript">var y=2;</SCRIPT></head><body>'
               || '<div class="nav"><a href="/">Home</a>|<a href="/a">About</a></div>'
               || '<!-- boilerplate' || chr(10) || ' comment --><h1>Doc '
               || CAST(doc_id AS VARCHAR)
               || '</h1><p>Rating: 4 &amp; 5 &lt;stars&gt;</p><p>'
               || text
               || '</p><br><ul><li>tag one</li><li>tag&nbsp;two</li></ul></body></html>'
               AS html
        FROM documents
    ),
    s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script\b.*?</script>', ' ', 'g') AS t FROM synth),
    s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style\b.*?</style>', ' ', 'g') AS t FROM s1),
    s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
    s4 AS (SELECT doc_id, regexp_replace(t, '(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/td)[^>]*>', ' ', 'g') AS t FROM s3),
    s5 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]+>', ' ', 'g') AS t FROM s4),
    s6 AS (SELECT doc_id,
                  replace(replace(replace(replace(replace(replace(t,
                      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                      '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
           FROM s5)
    SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted
    FROM s6 ORDER BY doc_id
    """,
)


# Shared DuckDB CTE chain producing (doc, chunk_idx, tok, pos) — the SQL
# twin of content_defined_chunks' pre-aggregation stages (kept in one
# constant so text_cdc_chunks and the cross-doc dedup reuse it verbatim).
_CDC_SQL = r"""
    toks AS (
        SELECT doc, i - 1 AS pos, t[i] AS tok
        FROM (SELECT doc_id AS doc,
                     list_filter(string_split(regexp_replace(trim(lower(text)),
                                 '\s+', ' ', 'g'), ' '),
                                 w -> len(w) > 0) AS t
              FROM documents),
             UNNEST(generate_series(1, len(t))) AS s(i)
    ),
    coded AS (
        SELECT doc, pos, tok,
               ('0x' || substring(md5(tok), 1, 8))::BIGINT % 1048576 AS c
        FROM toks
    ),
    hashed AS (
        SELECT doc, pos, tok,
               coalesce(lag(c, 3) OVER w, 0) * 2248091
             + coalesce(lag(c, 2) OVER w, 0) * 17161
             + coalesce(lag(c, 1) OVER w, 0) * 131
             + c AS h
        FROM coded WINDOW w AS (PARTITION BY doc ORDER BY pos)
    ),
    flagged AS (
        SELECT doc, pos, tok,
               CASE WHEN pos >= 3 AND h % 64 = 0 THEN 1 ELSE 0 END AS b
        FROM hashed
    ),
    chunked AS (
        SELECT doc, pos, tok,
               coalesce(sum(b) OVER w1, 0) AS chunk_idx,
               pos - coalesce(max(CASE WHEN b = 1 THEN pos END) OVER w1 + 1,
                              0) AS rel
        FROM flagged
        WINDOW w1 AS (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    chunks AS (
        SELECT doc, chunk_idx, count(*) AS n_tokens,
               CAST(sum(('0x' || substring(md5(CAST(rel AS VARCHAR) || ':' || tok),
                                           1, 10))::BIGINT) AS BIGINT) AS chunk_hash
        FROM chunked GROUP BY doc, chunk_idx
    )
"""


@query("text_cdc_chunks")
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators/dedup.py:
    content_defined_chunks — the rsync/FastCDC idea on token streams,
    the chunk-level dedup primitive for LONG documents: an early edit
    re-synchronizes at the next rolling-hash boundary, so downstream
    chunk hashes are unchanged where fixed-size chunking would shift
    them all). The oracle EXECUTES the identical pipeline in DuckDB —
    same md5-derived 20-bit token codes, same base-131 window-4
    polynomial via lag(), same boundary mask and prefix-sum chunk
    index — and compares every (doc, chunk_idx, n_tokens, chunk_hash)
    row exactly."""
    doc = _t(spark, sf_dir, "documents")
    return (
        sdedup.content_defined_chunks(doc, "text", "doc_id")
        .orderBy("doc", "chunk_idx")
    )


oracle(
    "text_cdc_chunks",
    f"""
    WITH {_CDC_SQL}
    SELECT doc, CAST(chunk_idx AS BIGINT) AS chunk_idx, n_tokens, chunk_hash
    FROM chunks ORDER BY doc, chunk_idx
    """,
)




@query("dedup_cdc_cross_doc")
def dedup_cdc_cross_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk-level dedup — the POINT of content-defined
    chunking: chunk hashes shared by more than one document are the
    duplicated spans a pipeline drops or downweights (boilerplate
    passages survive document-level dedup; CDC catches them without the
    quadratic all-pairs step — it is ONE hash aggregation over chunk
    hashes, scale-shape identical to exact dedup). Emits every
    duplicated chunk with its document frequency and occurrence count;
    the oracle executes the identical chunking + aggregation in
    DuckDB."""
    doc = _t(spark, sf_dir, "documents")
    chunks = sdedup.content_defined_chunks(doc, "text", "doc_id")
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count_distinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_hash")
    )


oracle(
    "dedup_cdc_cross_doc",
    f"""
    WITH {_CDC_SQL}
    SELECT chunk_hash, count(DISTINCT doc) AS n_docs,
           count(*) AS n_occurrences, min(n_tokens) AS n_tokens
    FROM chunks GROUP BY chunk_hash HAVING count(DISTINCT doc) >= 2
    ORDER BY chunk_hash
    """,
)


@query("corpus_report_card")
def corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card — the rollup a data team publishes
    with every dump release: document and token counts, mean quality
    score, distinct-content count and intra-source exact-dup count, all
    in ONE aggregation pass over the corpus (each metric is an
    expression over the same scan; nothing but (source, partial states)
    shuffles, so this is a report you can afford to run on every 100-TB
    snapshot). Composes the already-oracled quality/token/content-hash
    kernels; the oracle recomputes each from their established SQL
    twins."""
    doc = _t(spark, sf_dir, "documents")
    content_hash = F.md5(sdedup.normalized_text("text").cast("binary"))
    agg = doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(stext.ws_token_count("text")).alias("total_tokens"),
        F.round(F.avg(stext.quality_score("text")), 4).alias("avg_quality"),
        F.count_distinct(content_hash).alias("distinct_contents"),
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        "avg_quality",
        "distinct_contents",
        (F.col("n_docs") - F.col("distinct_contents")).alias("dup_docs"),
    ).orderBy("source")


oracle(
    "corpus_report_card",
    r"""
    WITH q AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
               (CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                    / length(text)) * 0.4
             + (1.0 - CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                    / length(text)) * 0.2
             + least(CAST(len(regexp_extract_all(
                       regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                       '(^| )(the|and|of|to|is|with)( |$)')) AS DOUBLE)
                    / (CASE WHEN length(trim(text)) = 0 THEN 1
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
                    * 4.0, 1.0) * 0.4 AS quality,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality), 4) AS avg_quality,
           count(DISTINCT h) AS distinct_contents,
           count(*) - count(DISTINCT h) AS dup_docs
    FROM q GROUP BY source ORDER BY source
    """,
)


@query("url_canonical_dedup")
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/text.py:canonical_url — the
    crawl-dedup key): three synthetic fetch variants per document
    (utm/fbclid-tagged + fragment + uppercase host, reordered params,
    explicit :443 + trailing slash) must collapse to ONE canonical
    form. The oracle EXECUTES the identical canonicalization in DuckDB
    (RE2 + list-function twins of every step) on variant 1 and compares
    the full canonical string exactly; `variants_collapse` pins the
    dedup property itself."""
    doc = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    v1 = F.concat(
        F.lit("HTTPS://CDN.Example.COM/docs/"), did,
        F.lit("/?utm_source=feed&ref="), F.col("source"), F.lit("&page=2#top"),
    )
    v2 = F.concat(
        F.lit("https://cdn.example.com/docs/"), did,
        F.lit("?page=2&ref="), F.col("source"),
    )
    v3 = F.concat(
        F.lit("https://cdn.example.com:443/docs/"), did,
        F.lit("/?ref="), F.col("source"), F.lit("&page=2&fbclid=abc"),
    )
    # scheme-mismatched default port: http://host:443 is a DIFFERENT
    # origin and must NOT collapse into the https canonical form
    v4 = F.concat(
        F.lit("http://cdn.example.com:443/docs/"), did,
        F.lit("?page=2&ref="), F.col("source"),
    )
    c1, c2, c3, c4 = (stext.canonical_url(v) for v in (v1, v2, v3, v4))
    return doc.select(
        "doc_id",
        c1.alias("canonical"),
        ((c1 == c2) & (c2 == c3)).alias("variants_collapse"),
        (c4 != c1).alias("port_origin_distinct"),
    ).orderBy("doc_id")


oracle(
    "url_canonical_dedup",
    r"""
    WITH synth AS (
        SELECT doc_id,
               'HTTPS://CDN.Example.COM/docs/' || CAST(doc_id AS VARCHAR)
               || '/?utm_source=feed&ref=' || source || '&page=2#top' AS u
        FROM documents
    ),
    s1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM synth),
    parts AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(lower(regexp_extract(u,
                   '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)),
                   '^(http://.*):80$', '\1'),
                   '^(https://.*):443$', '\1') AS head,
               regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') AS rest
        FROM s1
    ),
    pq AS (
        SELECT doc_id, head,
               regexp_replace(rest, '\?.*$', '') AS path,
               CASE WHEN contains(rest, '?')
                    THEN regexp_replace(rest, '^[^?]*\?', '') ELSE '' END AS q
        FROM parts
    ),
    canon AS (
        SELECT doc_id, head,
               regexp_replace(CASE WHEN path = '' THEN '/' ELSE path END,
                              '(.)/$', '\1') AS path,
               array_to_string(list_sort(list_filter(string_split(q, '&'),
                   p -> len(p) > 0 AND NOT starts_with(p, 'utm_')
                        AND NOT starts_with(p, 'fbclid')
                        AND NOT starts_with(p, 'gclid'))), '&') AS qs
        FROM pq
    )
    SELECT doc_id,
           head || path || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical,
           TRUE AS variants_collapse,
           TRUE AS port_origin_distinct
    FROM canon ORDER BY doc_id
    """,
)


@query("text_lang_id")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (argmax over per-language hit counts;
    ties broken by language code — mirrored exactly in the oracle)."""
    doc = _t(spark, sf_dir, "documents")
    return doc.select("doc_id", "lang", stext.lang_id("text").alias("lang_pred"))


_MARKER_ROWS = " UNION ALL ".join(
    "SELECT '{lang}' AS lang_c, '(^| )({alts})( |$)' AS pat".format(
        lang=lang, alts="|".join(ws)
    )
    for lang, ws in stext.LANG_MARKERS.items()
)

oracle(
    "text_lang_id",
    rf"""
    WITH markers AS ({_MARKER_ROWS}),
    scored AS (
        SELECT d.doc_id, d.lang, m.lang_c,
               len(regexp_extract_all(
                   regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'), m.pat)) AS hits
        FROM documents d CROSS JOIN markers m
    ),
    best AS (
        SELECT doc_id, lang, lang_c, hits,
               row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_c DESC) AS rn
        FROM scored
    )
    SELECT doc_id, lang,
           CASE WHEN hits > 0 THEN lang_c ELSE 'und' END AS lang_pred
    FROM best WHERE rn = 1
    """,
)


@query("text_quality")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punct/stopword quality signals + combined score (C4/Gopher-
    style filter inputs). Integer-ratio doubles — bit-identical."""
    doc = _t(spark, sf_dir, "documents")
    q = stext.quality_components("text")
    return doc.select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        q["n_tokens"].alias("n_tokens"),
        q["alpha_ratio"].alias("alpha_ratio"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        stext.quality_score("text").alias("quality"),
    )


oracle(
    "text_quality",
    r"""
    WITH c AS (
        SELECT doc_id,
               length(text) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
               len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
               len(regexp_extract_all(
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                   '(^| )(the|and|of|to|is|with)( |$)')) AS n_stop
        FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)  AS alpha_ratio,
           CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)  AS punct_ratio,
           CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)  AS stopword_ratio,
           (CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.4
             + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.2
             + least((CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 4.0, 1.0) * 0.4
           AS quality
    FROM c
    """,
)


@query("text_fingerprint")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text + 1-hash MinHash
    (lexicographic-min shingle md5, stable under small edits). Built via
    the staged ``with_fingerprints`` form: tokens materialized once per
    row — the inline form re-ran the normalize+split pipeline per shingle
    (O(tokens²) regex work, the round-2 13× regression)."""
    doc = _t(spark, sf_dir, "documents")
    return stext.with_fingerprints(doc, "text", "doc_id")


oracle(
    "text_fingerprint",
    r"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t,
               regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
        FROM documents
    ),
    grams AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS s(i)
        GROUP BY doc_id, gram
    )
    SELECT n.doc_id, md5(n.norm) AS fp_md5, min(md5(g.gram)) AS fp_shingle
    FROM toks n JOIN grams g ON n.doc_id = g.doc_id
    GROUP BY n.doc_id, n.norm
    """,
)


@query("multimodal_features")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary modality plumbing: attach binary payload + typed metadata,
    decode/featurize, resize, and frame-sample via Arrow mapInPandas
    (deterministic stubs — real codecs exercised by the
    multimodal_decode_* queries; schema/batching/fan-out are
    production-shaped). The three stages join back on id:
    features ⋈ resize ⋈ per-id frame count. FULLY oracled: the stub
    features are pure functions of the utf-8 bytes (all-ASCII in this
    corpus), so DuckDB reproduces them exactly — byte mean/std from the
    character codes, the 8-chunk pseudo-embedding via np.array_split's
    chunk-boundary arithmetic with the float32 quantization replicated
    by CAST(... AS REAL), and the stub resize/frame-sample shapes
    (16*16 bytes, n_frames rows) in closed form. Output is scalar-only —
    the feature vector is projected to first element / sum."""
    doc = _t(spark, sf_dir, "documents")
    binm = smm.attach_binary(doc, "text", "doc_id")
    acc = lambda a, x: a + x.cast("double")  # noqa: E731
    feats = smm.decode_and_featurize(binm).select(
        "id",
        "n_bytes",
        F.round("byte_mean", 4).alias("byte_mean"),
        F.round("byte_std", 4).alias("byte_std"),
        F.round(F.element_at("feat", 1).cast("double"), 4).alias("feat0"),
        F.round(F.aggregate("feat", F.lit(0.0), acc), 4).alias("feat_sum"),
    )
    sizes = smm.resize_images(binm, width=16, height=16).select(
        "id", F.length("content").alias("resized_bytes")
    )
    nframes = (
        smm.sample_frames(binm, n_frames=4, frame_bytes=128)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    return feats.join(sizes, "id").join(nframes, "id")


oracle(
    "multimodal_features",
    """
    WITH base AS (
        SELECT doc_id, text, length(text) AS n FROM documents
    ),
    codes AS (
        SELECT doc_id, n, i - 1 AS p, ascii(substring(text, i, 1)) AS c
        FROM base, UNNEST(generate_series(1, n)) AS s(i)
    ),
    chunked AS (
        -- np.array_split(a, 8): (n % 8) leading chunks of size n//8+1,
        -- the rest of size n//8
        SELECT doc_id, c,
               CASE WHEN p < (n % 8) * (n // 8 + 1)
                    THEN p // (n // 8 + 1)
                    ELSE (n % 8) + (p - (n % 8) * (n // 8 + 1)) // (n // 8)
               END AS chunk
        FROM codes
    ),
    cmeans AS (
        -- the stub feature vector is float32: replicate the quantization
        SELECT doc_id, chunk, CAST(CAST(avg(c) AS REAL) AS DOUBLE) AS m
        FROM chunked GROUP BY doc_id, chunk
    ),
    feats AS (
        SELECT doc_id,
               round(max(CASE WHEN chunk = 0 THEN m END), 4) AS feat0,
               round(sum(m), 4) AS feat_sum
        FROM cmeans GROUP BY doc_id
    ),
    stats AS (
        SELECT doc_id, n AS n_bytes,
               round(avg(c), 4) AS byte_mean,
               round(stddev_pop(c), 4) AS byte_std
        FROM codes GROUP BY doc_id, n
    )
    SELECT s.doc_id AS id, s.n_bytes, s.byte_mean, s.byte_std,
           f.feat0, f.feat_sum,
           CAST(256 AS INT) AS resized_bytes,
           CAST(4 AS BIGINT) AS n_frames
    FROM stats s JOIN feats f USING (doc_id)
    """,
)


@query("dedup_components")
@query("dedup_components_star")
def dedup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over verified near-dup pairs (J ≥ 0.8) — the
    cluster-grouping step after pair finding: alternating large-star/
    small-star (Kiveris et al. SoCC'14), O(log n) rounds whatever the
    component diameter, lineage truncated per round. Oracle: DuckDB
    recursive-CTE transitive closure. Also registered as
    `dedup_components_star`, the name the bench history and the
    dedup_index benchmark workload key on."""
    pairs = sdedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.8
    )
    return sdedup.dedup_components(pairs)


oracle("dedup_components", _COMPONENTS_ORACLE)
oracle("dedup_components_star", _COMPONENTS_ORACLE)


@query("text_decontaminate")
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM-style n-gram leakage guard,
    public methodology): corpus docs sharing any 4-gram with the held-out
    'benchmark' slice (doc_id % 50 == 0). Benchmark gram hashes broadcast;
    corpus scanned once; only (doc, 8-byte hash) pairs move."""
    doc = _t(spark, sf_dir, "documents")
    bench = doc.filter(F.col("doc_id") % 50 == 0)
    corpus = doc.filter(F.col("doc_id") % 50 != 0)
    return sdedup.decontaminate(corpus, bench, "text", "doc_id", ngram=4)


oracle(
    "text_decontaminate",
    r"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 4
                    THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                    ELSE array_to_string(t, ' ') END AS gram
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 3, 1))) AS s(i)
        GROUP BY doc_id, gram
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0)
    SELECT g.doc_id AS doc, count(*) AS n_contaminated_grams
    FROM grams g JOIN bench b ON g.gram = b.gram
    WHERE g.doc_id % 50 <> 0
    GROUP BY g.doc_id
    """,
)


@query("text_pii_scrub")
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (training-data scrubbing): per-doc match
    counts for email/phone/ipv4/ssn patterns and the md5 of the scrubbed
    text — all regexp expressions, codegen, no shuffle beyond the scan."""
    doc = _t(spark, sf_dir, "documents")
    counts = stext.pii_counts("text")
    return doc.select(
        "doc_id",
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        F.md5(stext.pii_scrub("text").cast("binary")).alias("scrubbed_md5"),
    )


oracle(
    "text_pii_scrub",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
           len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
           len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn_like,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b\d{3}-\d{2}-\d{4}\b', '<SSN_LIKE>', 'g'),
                   '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g')) AS scrubbed_md5
    FROM documents
    """,
)


@query("pack_sequences")
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 2048-token windows (GPT-style
    pretraining layout): prefix token sums in doc_id order via the
    distributed scan, pack = prefix // budget."""
    from sdc_spark.operators.curation import pack_sequences

    doc = _t(spark, sf_dir, "documents").select(
        "doc_id", stext.ws_token_count("text").alias("n_tok")
    )
    return pack_sequences(doc, "doc_id", "n_tok", budget=2048)


oracle(
    "pack_sequences",
    r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        FROM documents
    ), s AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT doc_id AS doc, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS offset,
           n_tokens > 0 AND
           CAST((cum - n_tokens) // 2048 AS BIGINT)
             <> CAST((cum - 1) // 2048 AS BIGINT) AS spans_boundary
    FROM s
    """,
)


@query("sample_stratified")
def sample_stratified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deterministic stratified sample: 20 docs per language via
    md5(id)-order rank — reproducible across engines, unlike Bernoulli
    sampleBy."""
    from sdc_spark.operators.curation import sample_stratified

    doc = _t(spark, sf_dir, "documents").select(
        "doc_id", stext.lang_id("text").alias("lang")
    )
    return sample_stratified(doc, "lang", "doc_id", n_per_stratum=20)


oracle(
    "sample_stratified",
    rf"""
    WITH markers AS ({_MARKER_ROWS}),
    scored AS (
        SELECT d.doc_id, m.lang_c,
               len(regexp_extract_all(
                   regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'), m.pat)) AS hits
        FROM documents d CROSS JOIN markers m
    ),
    best AS (
        SELECT doc_id, lang_c, hits,
               row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_c DESC) AS rn
        FROM scored
    ),
    langs AS (
        SELECT doc_id, CASE WHEN hits > 0 THEN lang_c ELSE 'und' END AS lang
        FROM best WHERE rn = 1
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM langs
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= 20
    """,
)


@query("text_repetition")
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (Gopher/C4 filters): top-token
    fraction and type/token ratio per document."""
    doc = _t(spark, sf_dir, "documents")
    return stext.repetition_signals(doc, "text", "doc_id")


oracle(
    "text_repetition",
    r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0
    ), u AS (
        SELECT doc_id, unnest(toks) AS tok FROM t
    ), c AS (
        SELECT doc_id, tok, count(*) AS n FROM u GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(max(n) AS DOUBLE) / sum(n) AS top_token_frac,
           CAST(count(*) AS DOUBLE) / sum(n) AS distinct_frac,
           CAST(sum(n) AS BIGINT) AS n_tokens
    FROM c GROUP BY doc_id
    """,
)


@query("docs_by_source")
def docs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus telemetry: per (source, lang) document counts and length
    stats — the standard curation dashboard cut. Pure partial-aggregated
    groupBy; at 100 TB this shuffles only (source, lang) partials."""
    doc = _t(spark, sf_dir, "documents")
    return (
        doc.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source", "lang")
    )


oracle(
    "docs_by_source",
    """
    SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
           max(n_chars) AS max_chars
    FROM documents GROUP BY source, lang ORDER BY source, lang
    """,
)


@query("dedup_cluster_sizes")
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup audit readout
    operators teams actually look at (how much of the corpus sits in
    2-clusters vs mega-clusters). Derived from the connected components
    (large-star/small-star, O(log n) rounds); the histogram itself
    is two tiny aggregates over one row per doc."""
    doc = _t(spark, sf_dir, "documents")
    pairs = sdedup.minhash_lsh_pairs(doc, "text", "doc_id", threshold=0.8)
    comp = sdedup.dedup_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


oracle(
    "dedup_cluster_sizes",
    f"""
    WITH RECURSIVE {_GRAMS_SQL}, {_COMPONENTS_SQL},
    csize AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
    SELECT cluster_size, count(*) AS n_clusters
    FROM csize GROUP BY cluster_size ORDER BY cluster_size
    """,
)


_STOPWORD_K = 10


@query("text_stopword_prune")
def text_stopword_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive stopword pruning: the top-10 global tokens (by
    frequency, deterministic tie-break) are broadcast as a literal-free
    array and filtered out of every document's token stream. Per-source
    before/after token totals. The classic preprocessing shape: one tiny
    frequency aggregate feeds a row-local array_except — the corpus is
    scanned twice, shuffled never."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "source",
        F.split(sdedup.normalized_text(F.col("text")), " ").alias("toks"),
    )
    top = (
        toks.select(F.explode("toks").alias("t"))
        .filter(F.length("t") > 0)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "t")
        .limit(_STOPWORD_K)
        .agg(F.collect_list("t").alias("__stops__"))
    )
    pruned = toks.crossJoin(F.broadcast(top)).select(
        "source",
        F.size("toks").alias("n_before"),
        # array_except is a SET op (dedupes survivors); element-wise
        # filter keeps multiplicity like the oracle's list_filter
        F.size(
            F.filter("toks", lambda x: ~F.array_contains(F.col("__stops__"), x))
        ).alias("n_after"),
    )
    return (
        pruned.groupBy("source")
        .agg(
            F.sum("n_before").alias("tokens_before"),
            F.sum("n_after").alias("tokens_after"),
        )
        .orderBy("source")
    )


oracle(
    "text_stopword_prune",
    r"""
    WITH toks AS (
        SELECT source,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                            ' ') AS toks
        FROM documents
    ), top AS (
        SELECT t FROM (
            SELECT unnest(toks) AS t FROM toks
        ) WHERE length(t) > 0
        GROUP BY t ORDER BY count(*) DESC, t LIMIT 10
    ), stops AS (
        SELECT list(t) AS s FROM top
    )
    SELECT source,
           CAST(sum(len(toks)) AS BIGINT) AS tokens_before,
           CAST(sum(len(list_filter(toks, x -> NOT list_contains(stops.s, x))))
             AS BIGINT) AS tokens_after
    FROM toks, stops GROUP BY source ORDER BY source
    """,
)


@query("dedup_incremental")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental dedup: the corpus is split into an 'existing'
    snapshot (doc_id % 5 != 0) and a 'new' batch (doc_id % 5 == 0); the
    batch is screened against the snapshot's LSH index only — no
    corpus-self pairs, the per-batch cost production pipelines actually
    pay. Exact-verified, so it hash-matches the exact cross-pairs
    oracle."""
    doc = _t(spark, sf_dir, "documents")
    existing = doc.filter(F.col("doc_id") % 5 != 0)
    new = doc.filter(F.col("doc_id") % 5 == 0)
    return sdedup.incremental_near_dups(existing, new, "text", "doc_id", threshold=0.8)


oracle(
    "dedup_incremental",
    f"""
    WITH {_GRAMS_SQL}
    SELECT doc_a AS corpus_doc, doc_b AS new_doc, jac FROM pairs
    WHERE jac >= 0.8 AND doc_a % 5 <> 0 AND doc_b % 5 = 0
    UNION ALL
    SELECT doc_b, doc_a, jac FROM pairs
    WHERE jac >= 0.8 AND doc_b % 5 <> 0 AND doc_a % 5 = 0
    """,
)


@query("dedup_incremental_persisted")
def dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index incremental dedup — the production loop at 100 TB:
    the corpus LSH band table (operators/dedup.py:lsh_band_table) and
    hashed-gram index (gram_index) are WRITTEN AS BUCKETED TABLES once
    per snapshot — bands bucketed+sorted on (band, bhash), grams on doc
    — and each incoming batch is screened against the RELOADED index
    (dedup.py:screen_against_index): the corpus text is never re-scanned
    or re-shuffled, and because the index layout already matches the
    band-join and verify-aggregation keys, the per-batch screen shuffles
    ONLY the batch — the index side reads its co-located buckets with no
    Exchange (pinned by tests/test_plan_shapes.py). Same 128/32x4
    signature family + exact-Jaccard verify as the in-session variant,
    so the round-trip through the bucketed tables must hash-match the
    same exact cross-pairs oracle."""
    doc = _t(spark, sf_dir, "documents")
    existing = doc.filter(F.col("doc_id") % 5 != 0)
    new = doc.filter(F.col("doc_id") % 5 == 0)
    bands_t, grams_t = sdedup.write_lsh_index(
        spark, existing, "text", "doc_id", f"lshidx_{_sf_tag(sf_dir)}"
    )
    return sdedup.screen_against_index(
        spark.table(bands_t),
        spark.table(grams_t),
        new,
        "text",
        "doc_id",
        threshold=0.8,
    )


oracle(
    "dedup_incremental_persisted",
    f"""
    WITH {_GRAMS_SQL}
    SELECT doc_a AS corpus_doc, doc_b AS new_doc, jac FROM pairs
    WHERE jac >= 0.8 AND doc_a % 5 <> 0 AND doc_b % 5 = 0
    UNION ALL
    SELECT doc_b, doc_a, jac FROM pairs
    WHERE jac >= 0.8 AND doc_b % 5 <> 0 AND doc_a % 5 = 0
    """,
)


@query("dedup_index_ingest_loop")
def dedup_index_ingest_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL persisted-index ingest loop — what a continuously-growing
    corpus actually runs: batch N is screened against the index
    (dedup.py:screen_against_index), then APPENDED to it
    (dedup.py:append_lsh_index — the corpus index is never rewritten),
    so batch N+1 is screened against corpus ∪ batch N. The index lives
    as BUCKETED tables (bands on (band, bhash), grams on doc — the join
    and verify-agg keys), so each screen shuffles only the batch and
    each append lays down ~one file per bucket (repartition-first; the
    file-count bound is pinned by tests/test_dedup_index_layout.py).
    Two batches here: batch 1 = doc_id%5==0 vs the corpus
    (doc_id%5>=2), batch 2 = doc_id%5==1 vs corpus ∪ batch 1. Batch 1's
    screen is EAGERLY materialized before the append so its result
    cannot observe the index growth (lazy table reads would otherwise
    race the append). Oracle: exact cross-pairs per batch from the
    shared grams CTE — the whole loop, including the append round-trip,
    must hash-match exact Jaccard."""
    from sdc_spark.materialize import materialize, unmaterialize

    name = f"lshloop_{_sf_tag(sf_dir)}"
    # the index MUTATES (append) — rebuild fresh per run, never resume
    sdedup.drop_lsh_index(spark, name)

    doc = _t(spark, sf_dir, "documents")
    corpus = doc.filter(F.col("doc_id") % 5 >= 2)
    batch1 = doc.filter(F.col("doc_id") % 5 == 0)
    batch2 = doc.filter(F.col("doc_id") % 5 == 1)

    # NOT overlapped with the batch gram pass (measured, r12): the corpus
    # index build saturates every core with the 128-aggregate band
    # compute, so a concurrent batch job only contends (ingest loop 7.2
    # → 14.9s with the build∥gram overlap); §2.6 backfill pays only
    # where the foreground job leaves cores idle (the append's commit
    # tail below does; the build does not).
    bands_t, grams_t = sdedup.write_lsh_index(
        spark, corpus, "text", "doc_id", name
    )
    from sdc_spark.operators.maintenance import run_concurrently

    def screen(batch: DataFrame, n: int, base: DataFrame) -> DataFrame:
        pairs = sdedup.screen_against_index(
            spark.table(bands_t),
            spark.table(grams_t),
            batch,
            "text",
            "doc_id",
            threshold=0.8,
            hashed_grams=base,
        )
        # truncate=True: batch 1's screen precedes the append — kept
        # lineage (persist mode) recomputing an evicted partition AFTER
        # the append would read the grown index and silently change the
        # snapshot (same hazard class as the takedown query's deleted
        # files, caught by the 2 GiB memory probe)
        return materialize(
            pairs.select(F.lit(n).alias("batch"), "*"), truncate=True
        )

    # batch 1 is screened AND appended: ONE materialized hashed-gram
    # frame feeds both (guide §1.2 — the unshared form re-ran the
    # normalize+shingle+hash pass over the batch text per operation,
    # a redundant full batch scan at corpus scale). Safe ordering: the
    # frame derives only from the immutable batch text, never from the
    # index the append grows.
    base1 = materialize(sdedup.hashed_grams(batch1, "text", "doc_id"))
    out1 = screen(batch1, 1, base1)
    # batch 2's hashed-gram materialization derives ONLY from the
    # immutable batch-2 text — it never reads the index the append below
    # grows — so it overlaps the append (guide §2.6): its scan+shingle
    # tasks back-fill the executors the two bucketed writes' commit
    # tails leave idle. Ordering stays safe: screen 2 (which DOES read
    # the grown index) still runs strictly after both finish.
    base2_box: list = []
    run_concurrently(
        lambda: sdedup.append_lsh_index(
            spark, batch1, "text", "doc_id", name, hashed_grams=base1
        ),
        lambda: base2_box.append(
            materialize(sdedup.hashed_grams(batch2, "text", "doc_id"))
        ),
    )
    unmaterialize(base1)  # out1 is truncated; nothing reads base1 again
    # refreshed metadata: the append added files the cached relation
    # doesn't know about
    spark.catalog.refreshTable(bands_t)
    spark.catalog.refreshTable(grams_t)
    base2 = base2_box[0]
    out2 = screen(batch2, 2, base2)
    unmaterialize(base2)
    return out1.unionByName(out2)


oracle(
    "dedup_index_ingest_loop",
    f"""
    WITH {_GRAMS_SQL}
    SELECT 1 AS batch, doc_a AS corpus_doc, doc_b AS new_doc, jac FROM pairs
    WHERE jac >= 0.8 AND doc_a % 5 >= 2 AND doc_b % 5 = 0
    UNION ALL
    SELECT 1, doc_b, doc_a, jac FROM pairs
    WHERE jac >= 0.8 AND doc_b % 5 >= 2 AND doc_a % 5 = 0
    UNION ALL
    SELECT 2, doc_a, doc_b, jac FROM pairs
    WHERE jac >= 0.8 AND doc_a % 5 <> 1 AND doc_b % 5 = 1
    UNION ALL
    SELECT 2, doc_b, doc_a, jac FROM pairs
    WHERE jac >= 0.8 AND doc_b % 5 <> 1 AND doc_a % 5 = 1
    """,
)


@query("split_leakage_safe")
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup clusters (connected
    components over verified MinHash pairs) are split as UNITS — the split
    key is the md5 of the cluster representative (min doc id), so two
    near-duplicate documents can never land in different splits (the
    classic eval-contamination bug in per-doc splits). Singletons hash
    their own id. Deterministic, oracled end-to-end through the recursive
    components CTE."""
    doc = _t(spark, sf_dir, "documents")
    pairs = sdedup.minhash_lsh_pairs(doc, "text", "doc_id", threshold=0.8)
    comp = sdedup.dedup_components(pairs)
    rep = doc.select("doc_id").join(
        comp.select(F.col("doc").alias("doc_id"), "component"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("rep")
    )
    bucket = F.conv(F.substring(F.md5(F.col("rep").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    val_cut = int(0.05 * 4294967296.0)
    test_cut = int(0.10 * 4294967296.0)
    split = (
        F.when(bucket < val_cut, F.lit("val"))
        .when(bucket < test_cut, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return rep.select("doc_id", "rep", split.alias("split")).orderBy("doc_id")


oracle(
    "split_leakage_safe",
    f"""
    WITH RECURSIVE {_GRAMS_SQL}, {_COMPONENTS_SQL},
    r AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc
    )
    SELECT doc_id, rep,
           CASE WHEN ('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT
                     < CAST(floor(0.05 * 4294967296.0) AS BIGINT) THEN 'val'
                WHEN ('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT
                     < CAST(floor(0.10 * 4294967296.0) AS BIGINT) THEN 'test'
                ELSE 'train' END AS split
    FROM r ORDER BY doc_id
    """,
)


@query("dedup_keep_best_quality")
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-selection dedup: near-dup clusters (verified MinHash
    pairs ≥ 0.8 → connected components) each keep their HIGHEST-quality
    member (ties → min id) — the production keep rule, vs exact_dedup's
    arbitrary min-id pick. Quality is the graded text_quality scalar
    (integer-ratio doubles — bit-identical across engines), so the
    argmax, and therefore the keep/drop set, is exactly oracled through
    the recursive components CTE."""
    doc = _t(spark, sf_dir, "documents")
    pairs = sdedup.minhash_lsh_pairs(doc, "text", "doc_id", threshold=0.8)
    scored = doc.select(
        "doc_id", stext.quality_score("text").alias("quality")
    )
    out = sdedup.keep_best_in_cluster(scored, pairs, "doc_id", "quality")
    return out.select(
        F.col("doc").alias("doc_id"),
        "rep",
        F.round("quality", 6).alias("quality"),
        "keep",
    ).orderBy("doc_id")


oracle(
    "dedup_keep_best_quality",
    f"""
    WITH RECURSIVE {_GRAMS_SQL}, {_COMPONENTS_SQL},
    c AS (
        SELECT doc_id,
               length(text) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
               len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
               len(regexp_extract_all(
                   regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                   '(^| )(the|and|of|to|is|with)( |$)')) AS n_stop
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               (CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.4
                 + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.2
                 + least((CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 4.0,
                         1.0) * 0.4 AS quality
        FROM c
    ),
    labeled AS (
        SELECT s.doc_id, coalesce(cm.component, s.doc_id) AS rep, s.quality
        FROM scored s LEFT JOIN comp cm ON s.doc_id = cm.doc
    )
    SELECT doc_id, rep, round(quality, 6) AS quality,
           row_number() OVER (PARTITION BY rep
                              ORDER BY quality DESC, doc_id) = 1 AS keep
    FROM labeled ORDER BY doc_id
    """,
)


@query("ann_pq_topk")
def ann_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5: 8x16 codebooks, ADC scoring over
    8-byte codes, exact re-rank of the top-20. Codes are
    engine-specific, so the GRADED surface is the mean-recall audit vs
    the brute-force twin: mean recall@5 over the 10 query vectors
    >= 0.15 (measured 0.56 / 0.36 at sf0.001 / sf0.01 — >2x margin;
    per-query recall is NOT bounded because quantization error can zero
    out an individual query's top-5)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    approx = ssim.ann_pq_topk(emb, q, k=5, m=8, ksub=16, refine=4, dim=64)
    exact = ssim.ann_bruteforce_topk(emb, q, k=5)
    return _ann_recall_audit(approx, exact, q, k=5, theta=0.15, per_query=False)


oracle(
    "ann_pq_topk",
    """
    SELECT count(*) AS n_queries, TRUE AS per_query_le_k, TRUE AS mean_recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)


@query("text_line_dedup")
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document LINE dedup (operators/dedup.py:
    remove_duplicated_lines — the published C4 step that document-level
    dedup cannot do: cookie banners / license footers shared by
    otherwise-distinct pages). Each doc is synthesized as three lines —
    a corpus-wide boilerplate header, its own text, a per-source
    footer — so the operator must keep the header exactly once in the
    whole corpus, each footer once per source, and reassemble every
    page from its surviving lines in original order. The oracle
    EXECUTES the identical pipeline in DuckDB (row_number over
    (line) ordered by (doc, pos) = the argmin-first rule) and compares
    the reassembled text exactly."""
    doc = _t(spark, sf_dir, "documents")
    synth = doc.select(
        "doc_id",
        F.concat(
            F.lit("Accept cookies to continue\n"),
            F.col("text"),
            F.lit("\nCopyright Example Corp "),
            F.col("source"),
        ).alias("page"),
    )
    out = sdedup.remove_duplicated_lines(synth, "page", "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"), "text", "n_lines_kept", "n_lines_dropped"
    ).orderBy("doc_id")


oracle(
    "text_line_dedup",
    r"""
    WITH synth AS (
        SELECT doc_id,
               'Accept cookies to continue' || chr(10) || text || chr(10)
               || 'Copyright Example Corp ' || source AS page
        FROM documents
    ),
    lines AS (
        SELECT doc_id AS doc, i - 1 AS pos, l[i] AS line
        FROM (SELECT doc_id, string_split(page, chr(10)) AS l FROM synth),
             UNNEST(generate_series(1, len(l))) AS s(i)
        WHERE trim(l[i]) <> ''
    ),
    tagged AS (
        SELECT doc, pos, line,
               row_number() OVER (PARTITION BY line ORDER BY doc, pos) AS rn
        FROM lines
    )
    SELECT doc AS doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
                               ORDER BY pos), '') AS text,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lines_kept,
           CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_lines_dropped
    FROM tagged GROUP BY doc ORDER BY doc
    """,
)


@query("text_encoding_artifacts")
def text_encoding_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / encoding-artifact detection (functions/text.py:
    encoding_artifact_counts — the crawl-health gate byte-level UTF-8
    validation misses: a double-transcoded page is valid UTF-8 and
    useless). Every 3rd doc gets a Latin-1-mojibake'd vowel, every 5th a
    Windows-1252 smart quote, every 7th a replacement char — the
    detector must count each class and flag exactly the corrupted docs.
    The oracle EXECUTES the identical corruption + literal-pattern
    counts in DuckDB."""
    doc = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.col("text")
    page = F.when(did % 3 == 0, F.regexp_replace(page, "e", "Ã©")).otherwise(page)
    page = F.when(did % 5 == 0, F.concat(page, F.lit(" itâ€™s here"))).otherwise(page)
    page = F.when(did % 7 == 0, F.concat(page, F.lit(" broken�byte"))).otherwise(page)
    synth = doc.select("doc_id", page.alias("page"))
    counts = stext.encoding_artifact_counts("page")
    return synth.select(
        "doc_id",
        *[v.alias(k) for k, v in counts.items()],
        stext.encoding_clean("page").alias("clean"),
    ).orderBy("doc_id")


oracle(
    "text_encoding_artifacts",
    r"""
    WITH synth AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN s2 || ' broken�byte' ELSE s2 END AS page
        FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN s1 || ' itâ€™s here' ELSE s1 END AS s2
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0
                            THEN regexp_replace(text, 'e', 'Ã©', 'g')
                            ELSE text END AS s1
                FROM documents
            )
        )
    )
    SELECT doc_id,
           len(regexp_extract_all(page, 'Ã[©¨¡³ºñ¤¶¼«»]')) AS latin1_utf8,
           len(regexp_extract_all(page, 'â€')) AS win1252_punct,
           len(regexp_extract_all(page, 'Â ')) AS nbsp_artifact,
           len(regexp_extract_all(page, '�')) AS replacement_char,
           (len(regexp_extract_all(page, 'Ã[©¨¡³ºñ¤¶¼«»]'))
            + len(regexp_extract_all(page, 'â€'))
            + len(regexp_extract_all(page, 'Â '))
            + len(regexp_extract_all(page, '�'))) = 0 AS clean
    FROM synth ORDER BY doc_id
    """,
)


@query("dedup_index_takedown")
def dedup_index_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-LSH takedown graded end-to-end, BOTH phases of the
    tombstone lifecycle: build the corpus index (doc_id%5!=0), tombstone-
    delete every corpus doc with doc_id%3==0 (delete_from_lsh_index
    deferred default — an O(|batch|) delete-log write, the band/gram
    files untouched), then screen the batch (doc_id%5==0) passing the
    log (snapshot 1: serve-time exclusion via the candidate anti-join);
    compact (physical apply + log clear) and screen again (snapshot 2:
    post-compaction index). Both snapshots must hash-match exact
    cross-pairs Jaccard against the SURVIVING corpus — a leaked
    tombstoned doc in either phase, or a compaction that drops a
    survivor, is a value mismatch."""
    from sdc_spark.materialize import materialize, unmaterialize

    name = f"lshtd_{_sf_tag(sf_dir)}"
    # the index MUTATES (delete + compact) — rebuild fresh per run
    sdedup.drop_lsh_index(spark, name)
    doc = _t(spark, sf_dir, "documents")
    corpus = doc.filter(F.col("doc_id") % 5 != 0)
    batch = doc.filter(F.col("doc_id") % 5 == 0)

    bands_t, grams_t = sdedup.write_lsh_index(
        spark, corpus, "text", "doc_id", name
    )
    sdedup.delete_from_lsh_index(
        spark,
        corpus.filter(F.col("doc_id") % 3 == 0).select("doc_id"),
        name,
    )

    # the SAME batch is screened twice (pre- and post-compaction): ONE
    # materialized hashed-gram frame feeds both screens (guide §1.2) —
    # unshared, the normalize+shingle+hash pass over the batch text ran
    # per snapshot. The frame derives only from the immutable batch
    # text, so compaction cannot invalidate it. NOT overlapped with the
    # index build (measured, r12: the build saturates every core — see
    # dedup_index_ingest_loop). truncate=True: under persist mode, kept
    # lineage re-reading the batch via an evicted block would still be
    # safe here, but truncation matches the snapshot discipline of the
    # screen results below.
    base = materialize(
        sdedup.hashed_grams(batch, "text", "doc_id"), truncate=True
    )

    def screen(n: int, tomb) -> DataFrame:
        pairs = sdedup.screen_against_index(
            spark.table(bands_t),
            spark.table(grams_t),
            batch,
            "text",
            "doc_id",
            threshold=0.8,
            tombstones=tomb,
            hashed_grams=base,
        )
        # truncate=True: snapshot 1 is computed FROM files the compaction
        # below DELETES (the tombstone log, then the pre-compaction index
        # files). Under persist-mode materialization kept lineage would
        # recompute any uncached partition from those deleted files
        # (FAILED_READ_FILE — caught by the 2 GiB memory probe).
        return materialize(
            pairs.select(F.lit(n).alias("snapshot"), "*"), truncate=True
        )

    out1 = screen(1, sdedup.lsh_tombstones(spark, name))
    sdedup.compact_lsh_index(spark, name)
    spark.catalog.refreshTable(bands_t)
    spark.catalog.refreshTable(grams_t)
    out2 = screen(2, sdedup.lsh_tombstones(spark, name))
    unmaterialize(base)  # both snapshots truncated; base is dead
    return out1.unionByName(out2)


oracle(
    "dedup_index_takedown",
    f"""
    WITH {_GRAMS_SQL},
    cross_pairs AS (
        SELECT doc_a AS corpus_doc, doc_b AS new_doc, jac FROM pairs
        WHERE jac >= 0.8 AND doc_a % 5 <> 0 AND doc_a % 3 <> 0
          AND doc_b % 5 = 0
        UNION ALL
        SELECT doc_b, doc_a, jac FROM pairs
        WHERE jac >= 0.8 AND doc_b % 5 <> 0 AND doc_b % 3 <> 0
          AND doc_a % 5 = 0
    )
    SELECT 1 AS snapshot, corpus_doc, new_doc, jac FROM cross_pairs
    UNION ALL
    SELECT 2, corpus_doc, new_doc, jac FROM cross_pairs
    """,
)
