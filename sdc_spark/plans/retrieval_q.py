r"""Lexical + hybrid retrieval queries: Okapi BM25 scoring and
reciprocal-rank fusion of a BM25 ranking with a dense cosine ranking —
the standard two-tower search stack (sparse recall + dense recall + RRF
merge) expressed entirely in DataFrame ops.

Both queries are EXACTLY SQL-oracle-able: BM25's inputs are integer
aggregates (tf, dl, df, N) so the scoring expression evaluates to the
same doubles on both engines, and RRF is a pure function of integer
ranks. The dense half relies on the same cosine-rank determinism the
ann_* family established (ids-only ranks; ranking gaps dwarf float
noise; ties broken by id).

Scale shapes: BM25 is one corpus scan -> one groupBy(doc) with
conditional per-term aggregates -> one broadcast stats row. Rank lists
are depth-truncated via TakeOrderedAndProject (map-side partial top-k)
BEFORE the single-partition rank window, so fusion cost is bounded by
depth x rankers at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.materialize import materialize as _materialize
from sdc_spark.operators import similarity as ssim
from sdc_spark.operators.retrieval import (
    bm25_multi,
    bm25_scores,
    rrf_fuse,
    topk_ranking,
)
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import local_rows, read_table

_BM25_TERMS = ["vector", "stream", "filter", "hash"]


def _sf_tag(sf_dir: str) -> str:
    """Catalog-safe per-sf suffix (table names reject '.' and '/')."""
    import os
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))

# The shared tokenize/per-doc/stats prefix of both oracles (DuckDB CTEs).
_BM25_CTES = r"""
    toks AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
        FROM documents
    ), tok AS (
        SELECT doc_id, token FROM toks WHERE length(token) > 0
    ), per_doc AS (
        SELECT doc_id, count(*) AS dl,
               sum(CASE WHEN token = 'vector' THEN 1 ELSE 0 END) AS tf0,
               sum(CASE WHEN token = 'stream' THEN 1 ELSE 0 END) AS tf1,
               sum(CASE WHEN token = 'filter' THEN 1 ELSE 0 END) AS tf2,
               sum(CASE WHEN token = 'hash'   THEN 1 ELSE 0 END) AS tf3
        FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
               sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        FROM per_doc
    ), scored AS (
        SELECT doc_id,
               (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
                + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
                + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END
                + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS n_hit_terms,
                 ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                   * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                   * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5))
                   * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln(1.0 + (n_docs - df3 + 0.5) / (df3 + 0.5))
                   * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 AS score
        FROM per_doc, stats
        WHERE tf0 + tf1 + tf2 + tf3 > 0
    )
"""


@query("retrieval_bm25")
def retrieval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed 4-term query (k1=1.2, b=0.75,
    Lucene idf). One corpus scan; stats broadcast; deterministic ordered
    top-k (TakeOrderedAndProject)."""
    doc = read_table(spark, sf_dir, "documents")
    scored = bm25_scores(doc, "text", "doc_id", _BM25_TERMS)
    return (
        scored.select(
            F.col("doc").alias("doc_id"),
            F.col("n_hit_terms").cast("int").alias("n_hit_terms"),
            F.round("score", 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


oracle(
    "retrieval_bm25",
    "WITH "
    + _BM25_CTES
    + r"""
    SELECT doc_id, CAST(n_hit_terms AS INT) AS n_hit_terms,
           round(score, 4) AS score
    FROM scored
    ORDER BY round(score, 4) DESC, doc_id LIMIT 20
    """,
)


@query("retrieval_hybrid_rrf")
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 lexical top-100 and dense cosine top-100
    (query = embedding of vec_id 0, which joins 1:1 with doc_id) fused
    by reciprocal rank (k=60); top-20 fused. Rank lists are bounded
    (depth 100) before the fusion union, so the fuse aggregation never
    sees the corpus — the 100-TB plan is two top-k scans + a 200-row
    shuffle."""
    doc = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    lex_top = topk_ranking(
        bm25_scores(doc, "text", "doc_id", _BM25_TERMS), "doc", "score", 100
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    dense_scored = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc"),
        ssim.cosine(F.col("qvec"), F.col("embedding")).alias("cos"),
    )
    dense_top = topk_ranking(dense_scored, "doc", "cos", 100)
    fused = rrf_fuse([lex_top, dense_top], k=60)
    return (
        fused.join(
            lex_top.select("doc", F.col("rank").alias("lex_rank")), "doc", "left"
        )
        .join(
            dense_top.select("doc", F.col("rank").alias("dense_rank")),
            "doc",
            "left",
        )
        .select(
            F.col("doc").alias("doc_id"),
            F.col("n_rankers").cast("int").alias("n_rankers"),
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("dense_rank").cast("int").alias("dense_rank"),
            F.round("rrf_score", 6).alias("rrf_score"),
            F.col("rrf_score").alias("__o__"),
        )
        .orderBy(F.col("__o__").desc(), "doc_id")
        .limit(20)
        .drop("__o__")
    )


_BATCH_QUERIES = [
    (0, "vector"), (0, "stream"),
    (1, "hash"), (1, "join"),
    (2, "customer"), (2, "filter"), (2, "merge"),
]


@query("retrieval_bm25_batch")
def retrieval_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 over a query TABLE (3 queries, 2-3 terms each): top-5
    docs per query. The corpus tokenizes once into a materialized posting
    frame; query terms broadcast onto it (inverted-index contract), so
    scoring cost tracks matched postings, not corpus x queries. Ranked on
    the rounded score (ties → doc id) so the float-sum term aggregation
    can't flip the cut across engines."""
    from pyspark.sql.window import Window as W

    doc = read_table(spark, sf_dir, "documents")
    q = local_rows(spark, _BATCH_QUERIES, "qid int, term string")
    scored = bm25_multi(doc, q, "text", "doc_id").select(
        "qid", "doc", "n_hit_terms", F.round("score", 4).alias("score")
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "qid",
            "rank",
            F.col("doc").alias("doc_id"),
            F.col("n_hit_terms").cast("int").alias("n_hit_terms"),
            "score",
        )
        .orderBy("qid", "rank")
    )


oracle(
    "retrieval_bm25_batch",
    r"""
    WITH q(qid, term) AS (
        VALUES (0, 'vector'), (0, 'stream'),
               (1, 'hash'), (1, 'join'),
               (2, 'customer'), (2, 'filter'), (2, 'merge')
    ), toks AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
        FROM documents
    ), tok AS (
        SELECT doc_id, token FROM toks WHERE length(token) > 0
    ), postings AS (
        SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), matched AS (
        SELECT q.qid, p.doc_id, p.token, p.tf, d.dl
        FROM postings p JOIN q ON p.token = q.term JOIN dl d USING (doc_id)
    ), dfreq AS (
        SELECT token, count(DISTINCT doc_id) AS df FROM matched GROUP BY 1
    ), term_scores AS (
        SELECT m.qid, m.doc_id,
               ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                 * (m.tf * 2.2)
                 / (m.tf + 1.2 * (0.25 + 0.75 * m.dl / s.avgdl)) AS ts
        FROM matched m JOIN dfreq f USING (token), stats s
    ), agg AS (
        SELECT qid, doc_id, count(*) AS n_hit_terms,
               round(sum(ts), 4) AS score
        FROM term_scores GROUP BY 1, 2
    )
    SELECT qid, rank, doc_id, CAST(n_hit_terms AS INT) AS n_hit_terms, score
    FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY score DESC, doc_id) AS rank
        FROM agg
    ) WHERE rank <= 5 ORDER BY qid, rank
    """,
)


def _bm25_batch_sql(corpus_pred: str, snapshot: int) -> str:
    """DuckDB twin of bm25_multi's top-5-per-query over a corpus subset —
    the per-snapshot building block of the ingest-loop oracle."""
    return rf"""
    SELECT {snapshot} AS snapshot, qid, rank, doc_id,
           CAST(n_hit_terms AS INT) AS n_hit_terms, score
    FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY score DESC, doc_id) AS rank
        FROM (
            SELECT qid, doc_id, count(*) AS n_hit_terms,
                   round(sum(ts), 4) AS score
            FROM (
                SELECT m.qid, m.doc_id,
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                         * (m.tf * 2.2)
                         / (m.tf + 1.2 * (0.25 + 0.75 * m.dl / s.avgdl)) AS ts
                FROM (
                    SELECT q.qid, p.doc_id, p.token, p.tf, d.dl
                    FROM (
                        SELECT doc_id, token, count(*) AS tf
                        FROM (
                            SELECT doc_id,
                                   unnest(string_split(regexp_replace(
                                       trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
                            FROM documents WHERE {corpus_pred}
                        ) WHERE length(token) > 0 GROUP BY 1, 2
                    ) p
                    JOIN q ON p.token = q.term
                    JOIN (
                        SELECT doc_id, count(*) AS dl
                        FROM (
                            SELECT doc_id,
                                   unnest(string_split(regexp_replace(
                                       trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
                            FROM documents WHERE {corpus_pred}
                        ) WHERE length(token) > 0 GROUP BY 1
                    ) d USING (doc_id)
                ) m
                JOIN (
                    SELECT token, count(DISTINCT doc_id) AS df
                    FROM (
                        SELECT q.qid, p2.doc_id, p2.token
                        FROM (
                            SELECT doc_id, token
                            FROM (
                                SELECT doc_id,
                                       unnest(string_split(regexp_replace(
                                           trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
                                FROM documents WHERE {corpus_pred}
                            ) WHERE length(token) > 0 GROUP BY doc_id, token
                        ) p2 JOIN q ON p2.token = q.term
                    ) GROUP BY token
                ) f USING (token),
                (
                    SELECT count(*) AS n_docs, avg(dl) AS avgdl
                    FROM (
                        SELECT doc_id, count(*) AS dl
                        FROM (
                            SELECT doc_id,
                                   unnest(string_split(regexp_replace(
                                       trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
                            FROM documents WHERE {corpus_pred}
                        ) WHERE length(token) > 0 GROUP BY 1
                    )
                ) s
            ) GROUP BY 1, 2
        )
    ) WHERE rank <= 5
    """


@query("retrieval_index_ingest_loop")
def retrieval_index_ingest_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted lexical index ingest loop — completes the persisted-index
    quartet (LSH near-dup, IVF ANN, ExactSubstr grams, now BM25
    postings): build the bucketed posting index on 4/5 of the corpus,
    serve the 3-query workload from it (top-5 per query), APPEND the
    remaining fifth (postings under the original token-bucket spec; the
    stats table gains one additive (n_docs, sum_dl) row), and serve
    again. Each served snapshot must equal batch BM25 recomputed from
    that snapshot's raw text — the oracle does exactly that recompute,
    so a storage, append, or stats-additivity bug is a value mismatch,
    not a vibe. Corpus text is tokenized once per snapshot AT WRITE
    time; queries never touch it."""
    import sdc_spark.operators.retrieval as sret

    doc = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = doc.filter(F.col("doc_id") % 5 != 0)
    batch = doc.filter(F.col("doc_id") % 5 == 0)
    q = local_rows(spark, _BATCH_QUERIES, "qid int, term string")
    name = f"lexidx_{_sf_tag(sf_dir)}"

    sret.drop_posting_index(spark, name)
    sret.write_posting_index(spark, base, "text", "doc_id", name)

    def serve(snapshot: int) -> DataFrame:
        from pyspark.sql.window import Window as W

        scored = sret.bm25_from_index(spark, name, q).select(
            "qid", "doc", "n_hit_terms", F.round("score", 4).alias("score")
        )
        w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select(
                F.lit(snapshot).alias("snapshot"),
                "qid",
                "rank",
                F.col("doc").alias("doc_id"),
                F.col("n_hit_terms").cast("int").alias("n_hit_terms"),
                "score",
            )
            # truncate=True: snapshot 1 is served BEFORE the append —
            # kept lineage (persist mode) recomputing an evicted
            # partition after the append would read the grown index and
            # silently change the snapshot
            .transform(lambda df: _materialize(df, truncate=True))
        )

    r1 = serve(1)
    sret.append_posting_index(spark, batch, "text", "doc_id", name)
    r2 = serve(2)
    return r1.unionByName(r2).orderBy("snapshot", "qid", "rank")


oracle(
    "retrieval_index_ingest_loop",
    r"""
    WITH q(qid, term) AS (
        VALUES (0, 'vector'), (0, 'stream'),
               (1, 'hash'), (1, 'join'),
               (2, 'customer'), (2, 'filter'), (2, 'merge')
    )
    """
    + _bm25_batch_sql("doc_id % 5 <> 0", 1)
    + " UNION ALL "
    + _bm25_batch_sql("1 = 1", 2)
    + " ORDER BY snapshot, qid, rank",
)


@query("retrieval_index_takedown")
def retrieval_index_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown/expiry graded end-to-end: build the posting index on the
    full corpus, DELETE every 7th document (the removal-request path —
    the ids go to the tombstone log and the stats table gains one
    negative row, so idf and length normalization shift with no index
    rewrite), serve the 3-query workload, which anti-joins the log. The
    oracle recomputes batch BM25 from raw text over the surviving corpus
    — so a tombstoned posting that is still served or a wrong stats row
    is a value mismatch."""
    import sdc_spark.operators.retrieval as sret

    doc = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    q = local_rows(spark, _BATCH_QUERIES, "qid int, term string")
    name = f"lextd_{_sf_tag(sf_dir)}"

    sret.drop_posting_index(spark, name)
    sret.write_posting_index(spark, doc, "text", "doc_id", name)
    sret.delete_from_posting_index(
        spark, doc.filter(F.col("doc_id") % 7 == 0).select("doc_id"), name
    )

    from pyspark.sql.window import Window as W

    scored = sret.bm25_from_index(spark, name, q).select(
        "qid", "doc", "n_hit_terms", F.round("score", 4).alias("score")
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "qid",
            "rank",
            F.col("doc").alias("doc_id"),
            F.col("n_hit_terms").cast("int").alias("n_hit_terms"),
            "score",
        )
        .orderBy("qid", "rank")
    )


oracle(
    "retrieval_index_takedown",
    r"""
    WITH q(qid, term) AS (
        VALUES (0, 'vector'), (0, 'stream'),
               (1, 'hash'), (1, 'join'),
               (2, 'customer'), (2, 'filter'), (2, 'merge')
    )
    """
    + "SELECT qid, rank, doc_id, n_hit_terms, score FROM ("
    + _bm25_batch_sql("doc_id % 7 <> 0", 1)
    + ") ORDER BY qid, rank",
)


@query("retrieval_hard_negatives")
def retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for the
    keyword query, dense-similar documents (cosine top-30 to the vec_id-0
    query embedding) that the lexical ranker does NOT retrieve (outside
    the BM25 top-100 cutoff) — the embedding-close/lexically-unretrieved
    rows a bi-encoder is trained to push away. Plan: both rank lists are
    depth-bounded before the anti-join — at corpus scale this is two
    top-k scans and a 130-row anti-join, nothing quadratic."""
    doc = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    hits = topk_ranking(
        bm25_scores(doc, "text", "doc_id", _BM25_TERMS), "doc", "score", 100
    ).select("doc")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    dense_scored = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc"),
        ssim.cosine(F.col("qvec"), F.col("embedding")).alias("cos"),
    )
    dense_top = topk_ranking(dense_scored, "doc", "cos", 30)
    return (
        dense_top.join(hits, "doc", "left_anti")
        .select(F.col("doc").alias("doc_id"), F.col("rank").alias("dense_rank"))
        .orderBy("dense_rank")
    )


oracle(
    "retrieval_hard_negatives",
    "WITH "
    + _BM25_CTES
    + r"""
    , lex_top AS (
        SELECT doc_id FROM scored ORDER BY score DESC, doc_id LIMIT 100
    ), qv AS (
        SELECT embedding AS q FROM embeddings WHERE vec_id = 0
    ), dense AS (
        SELECT v.vec_id AS doc_id,
               sum(CAST(q[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))
                   / (sqrt(sum(CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE)))
                      * sqrt(sum(CAST(v.embedding[i] AS DOUBLE)
                                 * CAST(v.embedding[i] AS DOUBLE)))) AS c
        FROM embeddings v, qv,
             UNNEST(generate_series(1, len(q))) AS s(i)
        GROUP BY v.vec_id
    ), dense_top AS (
        SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rank
        FROM dense ORDER BY c DESC, doc_id LIMIT 30
    )
    SELECT t.doc_id, CAST(t.rank AS INT) AS dense_rank
    FROM dense_top t
    WHERE t.doc_id NOT IN (SELECT doc_id FROM lex_top)
    ORDER BY t.rank
    """,
)


oracle(
    "retrieval_hybrid_rrf",
    "WITH "
    + _BM25_CTES
    + r"""
    , lex_top AS (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM scored ORDER BY score DESC, doc_id LIMIT 100
    ), qv AS (
        SELECT embedding AS q FROM embeddings WHERE vec_id = 0
    ), dense AS (
        SELECT v.vec_id AS doc_id,
               sum(CAST(q[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))
                   / (sqrt(sum(CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE)))
                      * sqrt(sum(CAST(v.embedding[i] AS DOUBLE)
                                 * CAST(v.embedding[i] AS DOUBLE)))) AS c
        FROM embeddings v, qv,
             UNNEST(generate_series(1, len(q))) AS s(i)
        GROUP BY v.vec_id
    ), dense_top AS (
        SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rank
        FROM dense ORDER BY c DESC, doc_id LIMIT 100
    ), u AS (
        SELECT doc_id, rank FROM lex_top
        UNION ALL SELECT doc_id, rank FROM dense_top
    ), fused AS (
        SELECT doc_id, count(*) AS n_rankers,
               sum(1.0 / (60.0 + rank)) AS rrf
        FROM u GROUP BY doc_id
    )
    SELECT f.doc_id, CAST(f.n_rankers AS INT) AS n_rankers,
           CAST(l.rank AS INT) AS lex_rank,
           CAST(d.rank AS INT) AS dense_rank,
           round(f.rrf, 6) AS rrf_score
    FROM fused f
    LEFT JOIN lex_top l USING (doc_id)
    LEFT JOIN dense_top d USING (doc_id)
    ORDER BY f.rrf DESC, f.doc_id LIMIT 20
    """,
)
