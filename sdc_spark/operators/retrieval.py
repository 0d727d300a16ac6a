r"""Sparse (BM25) retrieval and rank fusion over the documents table.

The repo already covers dense retrieval (``operators/similarity.py``:
brute-force / LSH / IVF / PQ cosine top-k) and TF-IDF scoring
(``plans/llm_data2.text_tfidf_topk``); this module adds the other half
of a production retrieval stack — Okapi BM25 lexical scoring and
reciprocal-rank fusion (Cormack et al. 2009, the standard way to merge
lexical and vector rankings) — so a hybrid search pipeline can be
expressed end-to-end in DataFrame ops.

Scale shape (the part that matters at 100 TB):

- ``bm25_scores`` tokenizes the corpus ONCE; per-document term
  frequencies for the fixed query-term set come out of the same
  aggregation that computes document length, as conditional aggregates
  (one column per term — query term sets are small by construction, so
  the wide row is bounded). Corpus statistics (N, avgdl, per-term df)
  reduce to ONE tiny row that broadcasts back; no join ever shuffles
  the corpus on anything but its own aggregation key, and no shuffle
  carries text.
- ``rrf_fuse`` unions per-ranker (id, rank) lists — which a caller
  should truncate to the fusion depth first (top-k per ranker via
  TakeOrdered, not a global sort) — and map-side-combines the
  1/(k+rank) sum per id. The fused table is bounded by
  (depth x n_rankers), not the corpus.

BM25 here is the Lucene/ATIRE variant: idf = ln(1 + (N - df + 0.5) /
(df + 0.5)) (non-negative, saturating), tf side = tf*(k1+1) /
(tf + k1*(1 - b + b*dl/avgdl)). All inputs to the scoring expression
are integer aggregates (exact on both engines), and the per-term sum is
a FIXED-ORDER column expression, not a float aggregation — so scores
are bit-reproducible against the DuckDB oracle, not merely close.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sdc_spark.materialize import materialize as _materialize
from sdc_spark.materialize import materialize_lazy as _materialize_lazy
from sdc_spark.materialize import unmaterialize as _unmaterialize
from sdc_spark.operators.dedup import normalized_text
from sdc_spark.operators.maintenance import (
    _drop,
    _log,
    _log_append,
    _replace,
    _save,
    index_lock,
    run_concurrently,
)


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, token) stream: lowercase, whitespace-split, empties dropped
    (the corpus-wide tokenization convention — dedup/tfidf/entropy all
    split the same way, so statistics agree across operators).

    Deliberately NOT spread_scan'd: whitespace tokenize is ~100x lighter
    per row than the shingle+MinHash pipelines that do spread, and the
    within-session A/B (r11) showed the extra full-text exchange costing
    more than the parallelism buys on the BM25 serve path (retrieval_bm25
    2.4-4.3s spread vs 1.5-1.8s unspread; the index-build consumers were
    a wash — their cost is the bucketed write, not tokenize)."""
    base = df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__txt__")
    )
    return (
        base.select(
            "doc",
            F.explode(F.split(normalized_text(F.col("__txt__")), " ")).alias(
                "token"
            ),
        )
        .filter(F.length("token") > 0)
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    hits_only: bool = True,
) -> DataFrame:
    """Okapi BM25 score of every document against a fixed bag of query
    ``terms``. Returns (doc, n_hit_terms, score).

    One corpus scan: document length and the per-term tf vector come out
    of a single groupBy(doc) with conditional aggregates; (N, avgdl,
    df_t) reduce to one broadcast row. ``hits_only`` drops documents
    matching no term (the inverted-index contract — a posting-list
    engine never even visits them)."""
    if not terms:
        raise ValueError("bm25_scores: terms must be non-empty")
    toks = _tokens(df, text_col, id_col)
    # Materialized: the per-doc frame feeds BOTH the corpus-stats
    # aggregation and the scored output, and Spark shares no subplan
    # across consumers — un-materialized, the tokenize+aggregate pass
    # (and the raw text scan under it) runs twice per query, which at
    # corpus scale is a second full-text scan for a table that holds no
    # text at all (one row of small ints per doc).
    # LAZY (r12): the two consumers are strictly sequenced inside the
    # consumer's one action — the broadcast stats build (executeBroadcast
    # completes before any probe task starts) computes and pins the
    # blocks, the probe side then reads them — so the eager checkpoint
    # job + its driver gap are pure overhead (profiled ~0.3-0.5 s/query).
    per_doc = toks.groupBy("doc").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    ).transform(_materialize_lazy)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )

    def term_score(i: int) -> Column:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
        )
        tf = F.col(f"tf{i}")
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        return idf * (tf * (k1 + 1.0)) / denom

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    n_hit = sum(
        (F.col(f"tf{i}") > 0).cast("int") for i in range(len(terms))
    )
    out = per_doc.crossJoin(F.broadcast(stats)).select(
        "doc", n_hit.alias("n_hit_terms"), score.alias("score")
    )
    if hits_only:
        out = out.filter(F.col("n_hit_terms") > 0)
    return out


def bm25_multi(
    df: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    qid_col: str = "qid",
    term_col: str = "term",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batch BM25: score every (query, document) pair for a TABLE of
    queries — the production retrieval shape (a workload of queries, not
    one ad-hoc term set). Returns (qid, doc, n_hit_terms, score).

    Plan at 100 TB: the corpus tokenizes ONCE into a materialized
    (doc, token, tf, dl) posting frame; the query-term table (tiny by
    construction) BROADCASTS onto it, so scoring touches only postings
    of query terms — the inverted-index contract — and per-term df is an
    aggregate over those matched postings, never a second corpus pass.
    Scores use the same Lucene BM25 form as ``bm25_scores``; per-doc
    sums aggregate float term scores, so consumers should round — the
    fixed-expression bit-equality of the single-set variant applies only
    there."""
    toks = _tokens(df, text_col, id_col)
    # The posting index is the ONE materialized corpus derivative; doc
    # lengths, corpus stats, df, and scoring all read it — the raw text
    # is tokenized exactly once however many consumers hang below
    # (un-materialized, Spark re-ran the scan+explode per consumer:
    # three full text passes, caught by the plan audit).
    postings = (
        toks.groupBy("doc", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(_materialize)
    )
    stats = (
        postings.groupBy("doc")
        .agg(F.sum("tf").alias("dl"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    q = queries.select(
        F.col(qid_col).alias("qid"), F.col(term_col).alias("token")
    ).distinct()
    # matched postings are tiny (query terms only) and feed df AND the
    # scorer — materialized so the broadcast join runs once
    matched = postings.join(F.broadcast(q), "token").transform(_materialize)
    # doc lengths only for docs that matched: semi-join-prune the posting
    # index BEFORE the per-doc aggregation (the screen_against_index
    # discipline — without it every query batch pays a full-corpus
    # re-aggregation for lengths it mostly throws away)
    dl_m = (
        postings.join(
            matched.select("doc").distinct(), "doc", "left_semi"
        )
        .groupBy("doc")
        .agg(F.sum("tf").alias("dl"))
    )
    dfreq = matched.select("token", "doc").distinct().groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        matched.join(dl_m, "doc")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("ts"),
        )
    )
    return scored.groupBy("qid", "doc").agg(
        F.count(F.lit(1)).alias("n_hit_terms"), F.sum("ts").alias("score")
    )


def posting_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Materializable lexical index: (doc, token, tf, dl) posting rows
    with the document length DENORMALIZED onto every posting (classic
    posting-list design: scoring needs dl next to tf, and carrying it
    beats a corpus-sized doc-length join at query time). One text scan:
    the tf aggregation is materialized and the dl aggregation reads it."""
    toks = _tokens(df, text_col, id_col)
    postings = (
        toks.groupBy("doc", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(_materialize)
    )
    dl = postings.groupBy("doc").agg(F.sum("tf").alias("dl"))
    return postings.join(dl, "doc")


def write_posting_index(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    path_root: str = "/tmp/sdc_spark_postidx",
    overwrite: bool = False,
) -> tuple[str, str]:
    """Persist the corpus posting list as a BUCKETED table (+ a tiny
    additive stats table) and return (postings_table, stats_table).

    Postings are bucketed+sorted on token — the query-join key — so a
    workload of queries joins the index co-located; the corpus text is
    never re-tokenized after build. The stats table holds ADDITIVE rows
    (n_docs, sum_dl) — one per ingest — so appends never rewrite it and
    readers reduce it to (N, avgdl) with a sum over a handful of rows.
    Idempotent: existing tables are reused unless ``overwrite``; appends
    go through ``append_posting_index`` (same bucket spec)."""
    post_t = f"postings_{name}"
    stats_t = f"lexstats_{name}"
    have = spark.catalog.tableExists(post_t) and spark.catalog.tableExists(
        stats_t
    )
    if have and not overwrite:
        return post_t, stats_t
    posted = posting_table(df, text_col, id_col).transform(_materialize)
    # both writes read the one materialized posting frame and target
    # disjoint tables — overlap them (optimization guide §2.6)
    try:
        run_concurrently(
            lambda: _save(
                posted, post_t, "overwrite", ("token",),
                f"{path_root}/{name}/postings",
            ),
            lambda: _save(
                _stats_row(posted), stats_t, "overwrite",
                path=f"{path_root}/{name}/stats",
            ),
        )
    finally:
        # release the materialized corpus posting blocks even on write
        # failure — leaked, they pin a corpus-sized frame for the session
        _unmaterialize(posted)
    return post_t, stats_t


def append_posting_index(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    path_root: str = "/tmp/sdc_spark_postidx",
) -> None:
    """Append one ingested batch (NEW doc ids — the same contract as the
    LSH/IVF/substring appends) to a persisted posting index: postings
    append under the original bucket spec (~one file per bucket); the
    stats table gains one additive (n_docs, sum_dl) row. Serialized
    against concurrent compaction via the index maintenance lock
    (operators/maintenance.py) — an append landing inside compaction's
    stage-then-replace window would otherwise be lost."""
    posted = posting_table(batch, text_col, id_col).transform(_materialize)
    with index_lock(f"{path_root}/{name}"):
        # disjoint tables fed by the one materialized frame (§2.6)
        try:
            run_concurrently(
                lambda: _save(posted, f"postings_{name}", "append", ("token",)),
                lambda: _save(_stats_row(posted), f"lexstats_{name}", "append"),
            )
        finally:
            _unmaterialize(posted)


def _stats_row(postings: DataFrame) -> DataFrame:
    """One additive (n_docs, sum_dl) stats row for a posting frame."""
    return (
        postings.groupBy("doc")
        .agg(F.max("dl").alias("dl"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    )


def compact_posting_index(
    spark,
    name: str,
    path_root: str = "/tmp/sdc_spark_postidx",
) -> None:
    """Compact back to ~one file per bucket after append-driven file
    growth (appends are new-doc-only, so rows are already unique — this
    is pure file coalescing; contents bit-identical when no takedowns
    are pending, pinned by test) AND apply any pending tombstones
    physically (the LSM contract: deletes are logged O(|batch|) at
    takedown time, amortized into this scheduled rewrite). After a
    tombstone-applying compaction the stats table is re-based to one
    exact row recomputed from the surviving postings. Holds the index
    maintenance lock for the whole stage-then-replace window. The
    physical anti-join carries no strategy hint: a bulk expiry's log
    can be corpus-scale, and a forced broadcast of it is a driver OOM."""
    with index_lock(f"{path_root}/{name}"):
        content = spark.read.parquet(f"{path_root}/{name}/postings")
        tomb = posting_tombstones(spark, name)
        if tomb is not None:
            content = content.join(tomb, "doc", "left_anti")
        _replace(
            spark, f"postings_{name}", content, f"{path_root}/{name}/postings",
            ("token",),
        )
        if tomb is not None:
            # re-base the additive stats rows to one exact row
            _replace(
                spark,
                f"lexstats_{name}",
                _stats_row(spark.table(f"postings_{name}")),
                f"{path_root}/{name}/stats",
            )
            _drop(spark, (f"lexdel_{name}",), f"{path_root}/{name}/tombstones")


def posting_tombstones(spark, name: str) -> DataFrame | None:
    """The index's delete log: a (doc) frame of tombstoned ids, or None
    when no takedown has happened since the last compaction. Serve paths
    anti-join it; ``compact_posting_index`` applies it physically."""
    return _log(spark, f"lexdel_{name}")


def delete_from_posting_index(
    spark,
    doc_ids: DataFrame,
    name: str,
    id_col: str = "doc_id",
    path_root: str = "/tmp/sdc_spark_postidx",
) -> None:
    """Takedown/expiry: remove documents from the persisted index.

    The delete is the LSM answer — a TOMBSTONE log: the id batch appends
    to a tiny ``lexdel_<name>`` side table (write cost O(|batch|), the
    multi-TB posting table is not touched) and the stats table gains one
    NEGATIVE additive row (-n_docs, -sum_dl) for the removed docs, so
    the reader's existing sum-of-rows reduction yields post-takedown
    (N, avgdl) with no rebuild. ``bm25_from_index`` anti-joins the log
    at serve time; physical deletion is deferred to
    ``compact_posting_index``. A weekly takedown batch on a 100-TB index
    therefore writes kilobytes, not the index."""
    ids = doc_ids.select(F.col(id_col).alias("doc")).distinct()
    with index_lock(f"{path_root}/{name}"):
        prior = posting_tombstones(spark, name)
        if prior is not None:
            # already-tombstoned ids must not subtract stats twice
            ids = ids.join(prior, "doc", "left_anti")
        fresh = _materialize(ids, truncate=True)
        neg = (
            spark.table(f"postings_{name}")
            .join(fresh, "doc", "left_semi")
            .groupBy("doc")
            .agg(F.max("dl").alias("dl"))
            .agg(
                (-F.count(F.lit(1))).alias("n_docs"),
                (-F.coalesce(F.sum("dl"), F.lit(0))).alias("sum_dl"),
            )
        )
        _save(neg, f"lexstats_{name}", "append")
        _log_append(spark, fresh, f"lexdel_{name}", f"{path_root}/{name}/tombstones")


def drop_posting_index(
    spark, name: str, path_root: str = "/tmp/sdc_spark_postidx"
) -> None:
    """Drop the posting index tables and files (test/rebuild lifecycle)."""
    _drop(
        spark,
        (f"postings_{name}", f"lexstats_{name}", f"lexdel_{name}"),
        f"{path_root}/{name}",
    )


def bm25_from_index(
    spark,
    name: str,
    queries: DataFrame,
    qid_col: str = "qid",
    term_col: str = "term",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batch BM25 served from a persisted posting index: identical
    output contract (and scoring arithmetic) to ``bm25_multi`` run on
    the index's corpus — divergence is a storage/append bug, which is
    exactly what the graded ingest-loop query pins. The corpus text is
    never touched: query terms broadcast onto the bucketed posting scan,
    df aggregates over matched postings only, and (N, avgdl) reduce from
    the additive stats rows. Pending takedowns are honored WITHOUT any
    index rewrite: the matched postings anti-join the tombstone log
    (strategy left to AQE — the log may be corpus-scale under bulk
    expiry) and the stats sum already includes the negative takedown
    rows, so (N, avgdl, idf) all reflect the removals immediately."""
    posted = spark.table(f"postings_{name}")
    stats = spark.table(f"lexstats_{name}").agg(
        F.sum("n_docs").alias("n_docs"),
        (
            F.sum("sum_dl").cast("double") / F.sum("n_docs").cast("double")
        ).alias("avgdl"),
    )
    q = queries.select(
        F.col(qid_col).alias("qid"), F.col(term_col).alias("token")
    ).distinct()
    matched = posted.join(F.broadcast(q), "token")
    tomb = posting_tombstones(spark, name)
    if tomb is not None:
        # applied AFTER the query-term match, so the anti-join touches
        # only query-term postings, never the whole index; no strategy
        # hint — the log can be corpus-scale under bulk expiry, AQE picks
        matched = matched.join(tomb, "doc", "left_anti")
    matched = matched.transform(_materialize)
    return score_matched_postings(matched, stats, k1=k1, b=b)


def score_matched_postings(
    matched: DataFrame,
    stats: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 scores from an already-matched posting set (qid, doc, token,
    tf, dl) + a one-row (n_docs, avgdl) stats frame — the shared scoring
    tail of the batch index server AND the streaming gate's per-micro-
    batch completion (one scorer, so the two halves can't drift). df is
    aggregated over the matched postings only (equal to corpus df for
    those terms by construction)."""
    # df derives FROM matched, so the join below is a self-join; the key
    # is renamed on the aggregate side (fresh attribute) so the scorer
    # works on any input — materialized or raw lineage (raw would throw
    # "Conflicting attributes" on a same-exprId join key)
    dfreq = (
        matched.select(F.col("token").alias("__dftok"), "doc")
        .distinct()
        .groupBy("__dftok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        matched.join(
            F.broadcast(dfreq), F.col("token") == F.col("__dftok")
        )
        .drop("__dftok")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("ts"),
        )
    )
    return scored.groupBy("qid", "doc").agg(
        F.count(F.lit(1)).alias("n_hit_terms"), F.sum("ts").alias("score")
    )


def topk_ranking(
    scored: DataFrame,
    id_col: str,
    score_col: str,
    depth: int,
) -> DataFrame:
    """Truncate a scored table to its top-``depth`` rows and attach a
    dense 1-based rank (ties broken by id — deterministic on a
    distributed table). The limit compiles to TakeOrderedAndProject
    (map-side partial top-k), so the single-partition rank window only
    ever sees ``depth`` rows regardless of corpus size — this is the
    scale-safe way to produce the bounded rank lists rank fusion
    consumes."""
    top = scored.orderBy(
        F.col(score_col).desc(), F.col(id_col)
    ).limit(depth)
    from pyspark.sql.window import Window as W

    # partitioned on a non-foldable always-zero key (the order.py
    # convention): the window IS bounded (depth rows), and keeping it
    # formally partitioned preserves the repo invariant that WindowExec's
    # "No Partition Defined" warning only fires on real regressions
    w = W.partitionBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1))).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    # Materialized: a rank list is consumed at least twice by any fusion
    # (the fuse union AND the per-ranker rank-attach join), and it is
    # depth-bounded — re-running the whole scoring scan per consumer is
    # the expensive alternative.
    return top.select(
        F.col(id_col).alias("doc"), F.row_number().over(w).alias("rank")
    ).transform(_materialize)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion over (doc, rank) lists: fused score =
    Σ_rankers 1/(k + rank), ids missing from a ranker contribute
    nothing. Returns (doc, n_rankers, rrf_score).

    Inputs should be depth-truncated (``topk_ranking``) so the union is
    bounded by depth x n_rankers; the per-ranker min-rank aggregates
    map-side-combine. Fused scores are BIT-REPRODUCIBLE for any number
    of rankers: each ranker's contribution lands in its own conditional
    aggregate column (a doc appears at most once per ranker, so min()
    is exact selection, not accumulation) and the float additions happen
    in FIXED list order as a column expression — never through
    F.sum(float), whose accumulation order is partition-dependent and
    can flip scores near a rounding or top-k boundary with 3+ rankers."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    tagged = rankings[0].select(
        "doc", "rank", F.lit(0).alias("__ranker")
    )
    for i, r in enumerate(rankings[1:], start=1):
        tagged = tagged.unionByName(
            r.select("doc", "rank", F.lit(i).alias("__ranker"))
        )
    per = tagged.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_rankers"),
        *[
            F.min(F.when(F.col("__ranker") == i, F.col("rank"))).alias(f"__r{i}")
            for i in range(len(rankings))
        ],
    )
    contrib = [
        F.when(
            F.col(f"__r{i}").isNotNull(),
            1.0 / (F.lit(float(k)) + F.col(f"__r{i}")),
        ).otherwise(F.lit(0.0))
        for i in range(len(rankings))
    ]
    score = contrib[0]
    for c in contrib[1:]:
        score = score + c
    return per.select("doc", "n_rankers", score.alias("rrf_score"))
