r"""Second batch of LLM-training-data-pipeline queries: Gopher-rule
quality gating, corpus vocabulary building, token-length histograms,
deterministic source-mix resampling, and SemDeDup-style semantic
deduplication over the embedding table.

Everything except ``semantic_dedup`` is exactly SQL-oracle-able (the
keep decisions are pure functions of row content — no RNG anywhere);
``semantic_dedup`` depends on xxhash64-seeded clustering that DuckDB
cannot replicate, so it gets the rows-only check plus a semantic pytest
(every flagged duplicate really is above-threshold cosine to its
survivor: tests/test_llm_data2.py).

Scale shapes are inherited from the operators (see their docstrings):
the quality/vocab/histogram queries are row-local maps feeding
map-side-combined aggregates; the resampler broadcasts one row per
source; semantic dedup confines its quadratic step to IVF cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.arrow import map_rows
from sdc_spark.materialize import materialize as _materialize

from sdc_spark.functions import text as stext
from sdc_spark.operators.curation import recipe_mix_tokens, resample_to_mix
from sdc_spark.operators.dedup import normalized_text
from sdc_spark.operators.scan import spread_scan_py
from sdc_spark.operators import similarity as ssim
from sdc_spark.operators.similarity import semantic_dedup
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


def _payloads(df: DataFrame, payload) -> DataFrame:
    """Synthesized ``{id, content}`` fixture rows: ``payload(key, value)``
    bytes for each row of a two-column ``(key, value)`` frame, keyed by
    the first column, as one ``map_rows`` stage."""
    return map_rows(
        df.select(F.col(df.columns[0]).alias("id"), *df.columns),
        lambda *row: (payload(*row),),
        "id long, content binary",
    )


@query("text_gopher_filter")
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText rule gate: per-source document counts, per-rule
    failure counts, and the kept fraction. One row-local projection into
    one map-side-combined aggregate — zero corpus shuffle."""
    doc = _t(spark, sf_dir, "documents")
    flags = stext.gopher_flags("text")
    flagged = doc.select(
        "source",
        *[v.alias(k) for k, v in flags.items()],
        stext.gopher_keep("text").alias("keep"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            *[
                F.sum((~F.coalesce(F.col(k), F.lit(False))).cast("long")).alias(
                    f"fail_{k[3:]}"
                )
                for k in flags
            ],
        )
        .orderBy("source")
    )


oracle(
    "text_gopher_filter",
    r"""
    WITH f AS (
        SELECT source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
               list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
                                       w -> length(w))) AS sum_wl,
               len(regexp_extract_all(trim(text), '#|\.\.\.')) AS n_symbol,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                               w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
               len(regexp_extract_all(
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                   '(^| )(the|and|of|to|is|with)( |$)')) AS n_stop
        FROM documents
    ), r AS (
        SELECT source,
               (n_words >= 30 AND n_words <= 50000) AS ok_word_count,
               (CAST(sum_wl AS DOUBLE) / n_words >= 3.0
                AND CAST(sum_wl AS DOUBLE) / n_words <= 10.0) AS ok_mean_word_len,
               (CAST(n_symbol AS DOUBLE) / n_words < 0.1) AS ok_symbol_ratio,
               (CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8) AS ok_alpha_words,
               (n_stop >= 2) AS ok_stopwords
        FROM f
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN coalesce(ok_word_count, FALSE)
                     AND coalesce(ok_mean_word_len, FALSE)
                     AND coalesce(ok_symbol_ratio, FALSE)
                     AND coalesce(ok_alpha_words, FALSE)
                     AND coalesce(ok_stopwords, FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(sum(CASE WHEN coalesce(ok_word_count, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS fail_word_count,
           CAST(sum(CASE WHEN coalesce(ok_mean_word_len, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(CASE WHEN coalesce(ok_symbol_ratio, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS fail_symbol_ratio,
           CAST(sum(CASE WHEN coalesce(ok_alpha_words, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS fail_alpha_words,
           CAST(sum(CASE WHEN coalesce(ok_stopwords, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS fail_stopwords
    FROM r GROUP BY source ORDER BY source
    """,
)


@query("text_vocab_topk")
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: normalized-token frequencies, top 100 by
    (count desc, token asc) — a fully-ordered deterministic cutoff. The
    token explosion partial-aggregates map-side; the top-k is
    TakeOrderedAndProject over one row per distinct token, never a full
    sort of the corpus."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token")
    ).filter(F.length("token") > 0)
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(100)
    )


oracle(
    "text_vocab_topk",
    r"""
    SELECT token, count(*) AS n
    FROM (
        SELECT unnest(string_split(
            regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
        FROM documents
    )
    WHERE length(token) > 0
    GROUP BY token ORDER BY n DESC, token LIMIT 100
    """,
)


@query("doc_length_histogram")
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram in log2 buckets — the standard corpus-shape
    diagnostic before packing/truncation decisions. Bucket is a row-local
    expression; one tiny aggregate; integer-over-integer fraction."""
    doc = _t(spark, sf_dir, "documents")
    n_tok = stext.ws_token_count("text")
    bucketed = doc.select(
        F.floor(F.log2(n_tok.cast("double") + F.lit(1.0))).cast("int").alias("bucket"),
        n_tok.alias("n_tokens"),
    )
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    # total derived from the already-aggregated buckets — ONE corpus pass,
    # the second aggregate runs on a handful of rows
    total = per.agg(F.sum("n_docs").alias("__total__"))
    return (
        per.join(F.broadcast(total))
        .select(
            "bucket",
            "n_docs",
            "min_tokens",
            "max_tokens",
            (F.col("n_docs").cast("double") / F.col("__total__")).alias("frac"),
        )
        .orderBy("bucket")
    )


oracle(
    "doc_length_histogram",
    r"""
    WITH b AS (
        SELECT CAST(floor(log2(CAST(n AS DOUBLE) + 1.0)) AS INT) AS bucket, n
        FROM (
            SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
            FROM documents
        )
    )
    SELECT bucket, count(*) AS n_docs, min(n) AS min_tokens, max(n) AS max_tokens,
           CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM b) AS frac
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)


# Deliberately non-uniform target mix over the 20 uniform sources: srcN
# gets weight (N % 3) + 1 — so a third of the sources are downsampled to
# ~1/2 and a third to ~1/3 of their natural share.
_MIX = {f"src{i}": float(i % 3 + 1) for i in range(20)}


@query("sample_source_mix")
def sample_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance resampling to a target source mix
    (md5-threshold keep decision — reproducible across engines and
    retries). Returns per-source kept counts."""
    doc = _t(spark, sf_dir, "documents")
    kept = resample_to_mix(doc, "source", "doc_id", _MIX)
    return (
        kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("source")
    )


_MIX_ROWS = " UNION ALL ".join(
    f"SELECT 'src{i}' AS m_source, {float(i % 3 + 1) / sum(_MIX.values())!r} AS tshare"
    for i in range(20)
)

oracle(
    "sample_source_mix",
    rf"""
    WITH mix AS ({_MIX_ROWS}),
    counts AS (
        SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ),
    shares AS (
        SELECT c.source,
               least(1.0, m.tshare / (CAST(c.n_s AS DOUBLE)
                                      / (SELECT sum(n_s) FROM counts))) AS p
        FROM counts c JOIN mix m ON c.source = m.m_source
    )
    SELECT d.source, count(*) AS n_kept
    FROM documents d JOIN shares s ON d.source = s.source
    WHERE lpad(substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8), 9, '0')
          < lpad(lower(to_hex(CAST(floor(s.p * 4294967296.0) AS BIGINT))), 9, '0')
    GROUP BY d.source ORDER BY d.source
    """,
)


@query("data_recipe_mix")
def data_recipe_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data recipe (operators/curation.py:recipe_mix_tokens —
    mixing denominated in TOKENS, what a training budget actually buys,
    vs sample_source_mix's document shares): keep ~50% of corpus tokens
    split across sources by the weight table, per-source keep rate
    p_s = min(1, w_s·B/tokens_s), md5-threshold keep decision. One tiny
    per-source token aggregate broadcast back; the corpus is scanned
    once and never shuffled. The oracle recomputes the identical rates
    and keep set in SQL; output is the per-source kept doc/token
    rollup."""
    doc = _t(spark, sf_dir, "documents")
    weights = {f"src{i}": float(1 + i % 4) for i in range(20)}
    kept = recipe_mix_tokens(
        doc, "text", "doc_id", "source", weights, budget_frac=0.5
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum(stext.ws_token_count("text")).alias("tokens_kept"),
        )
        .orderBy("source")
    )


_RECIPE_ROWS = " UNION ALL ".join(
    f"SELECT 'src{i}' AS m_source, {float(1 + i % 4) / 50.0!r} AS tshare"
    for i in range(20)
)

oracle(
    "data_recipe_mix",
    rf"""
    WITH mix AS ({_RECIPE_ROWS}),
    tok AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        FROM documents
    ),
    per AS (SELECT source, sum(nt) AS tok_s FROM tok GROUP BY source),
    rates AS (
        SELECT p.source,
               least(1.0, m.tshare * (SELECT sum(tok_s) FROM per) * 0.5
                            / CAST(p.tok_s AS DOUBLE)) AS p
        FROM per p JOIN mix m ON p.source = m.m_source
    )
    SELECT t.source, count(*) AS n_docs_kept,
           CAST(sum(t.nt) AS BIGINT) AS tokens_kept
    FROM tok t JOIN rates r ON t.source = r.source
    WHERE lpad(substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8), 9, '0')
          < lpad(lower(to_hex(CAST(floor(r.p * 4294967296.0) AS BIGINT))), 9, '0')
    GROUP BY t.source ORDER BY t.source
    """,
)


@query("text_quality_classifier")
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear text-classifier INFERENCE at scan speed
    (functions/text.py:hashed_linear_score — the fasttext-filter shape
    every production quality/toxicity gate runs at 100 TB): hashed
    bag-of-words buckets, implicit hash-derived weight table (a real
    model swaps in a broadcast weight map — same plan), sigmoid squash.
    ONE higher-order fold over the token array — no explode, no
    shuffle, no UDF. The oracle EXECUTES the identical featurize +
    score in DuckDB (list_sum over list_transform; same fold order, so
    the double sum matches bit-for-bit before the 4dp round)."""
    doc = _t(spark, sf_dir, "documents")
    score = stext.hashed_linear_score("text")
    return doc.select(
        "doc_id",
        F.round(score, 4).alias("clf_score"),
        (score >= 0.5).alias("keep"),
    ).orderBy("doc_id")


oracle(
    "text_quality_classifier",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(regexp_replace(trim(lower(text)),
                           '\s+', ' ', 'g'), ' '), t -> len(t) > 0) AS ts
        FROM documents
    ),
    scored AS (
        SELECT doc_id, len(ts) AS n,
               list_sum(list_transform(ts, t ->
                   CAST((('0x' || substring(md5(CAST(
                       ('0x' || substring(md5(t), 1, 8))::BIGINT % 65536
                   AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) AS DOUBLE)
                   / 1000.0)) AS wsum
        FROM toks
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(CASE WHEN n > 0 THEN wsum / n ELSE 0 END)
                                  * 4.0)), 4) AS clf_score,
           (1.0 / (1.0 + exp(-(CASE WHEN n > 0 THEN wsum / n ELSE 0 END)
                             * 4.0))) >= 0.5 AS keep
    FROM scored ORDER BY doc_id
    """,
)


@query("semantic_dedup")
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-space dedup: IVF-cell blocking confines
    the pairwise step; keep-lowest-id survivor rule. Cell boundaries are
    engine-specific (xxhash64 seeds), so the GRADED surface is an audit
    (the `agg_approx_sketch` pattern): every dropped row's cosine to its
    recorded dup_of is RE-COMPUTED from the embeddings and must clear
    the 0.4 threshold (precision), every dup_of must be a lower id
    (survivor rule), survivors must carry a null dup_of, and at least
    one dup must exist (21 / 18 measured at sf0.001 / sf0.01). All
    booleans are deterministic under the fixed seeds → exact SQL
    oracle; n_vecs anchors to an exactly-oracled count. Semantic
    guarantees also pinned by tests/test_llm_data2.py."""
    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, "vec_id", "embedding", n_cells=16, threshold=0.4)
    e = emb.select(F.col("vec_id").alias("eid"), F.col("embedding").alias("evec"))
    dups = (
        out.filter(F.col("is_dup"))
        .join(e.withColumnRenamed("eid", "vec_id").withColumnRenamed("evec", "va"), "vec_id")
        .join(e.withColumnRenamed("eid", "dup_of").withColumnRenamed("evec", "vb"), "dup_of")
        .select(
            ssim.cosine(F.col("va"), F.col("vb")).alias("cos"),
            (F.col("dup_of") < F.col("vec_id")).alias("lower_id"),
        )
    )
    d = dups.agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min(F.col("cos") >= 0.4 - 1e-12).alias("cos_ok"),
        F.min("lower_id").alias("lower_ok"),
    )
    s = out.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max(
            F.when(~F.col("is_dup"), F.col("dup_of").isNotNull()).otherwise(F.lit(False))
        ).alias("survivor_violation"),
    )
    return s.crossJoin(d).select(
        "n_vecs",
        (F.col("n_dups") >= 1).alias("dups_found"),
        F.coalesce("cos_ok", F.lit(False)).alias("precision_ok"),
        F.coalesce("lower_ok", F.lit(False)).alias("survivor_rule_ok"),
        (~F.col("survivor_violation")).alias("survivors_clean"),
    )


oracle(
    "semantic_dedup",
    """
    SELECT count(*) AS n_vecs, TRUE AS dups_found, TRUE AS precision_ok,
           TRUE AS survivor_rule_ok, TRUE AS survivors_clean
    FROM embeddings
    """,
)


@query("split_train_val_test")
def split_train_val_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-hash dataset split (operators/curation.py) —
    5% val / 5% test on doc_id; per-split counts and token totals."""
    from sdc_spark.operators.curation import split_train_val_test

    doc = _t(spark, sf_dir, "documents")
    out = split_train_val_test(doc, "doc_id", val_frac=0.05, test_frac=0.05)
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(stext.ws_token_count("text")).alias("n_tokens"),
        )
        .orderBy("split")
    )


oracle(
    "split_train_val_test",
    r"""
    WITH s AS (
        SELECT CASE
                 WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      < CAST(floor(0.05 * 4294967296.0) AS BIGINT) THEN 'val'
                 WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      < CAST(floor(0.10 * 4294967296.0) AS BIGINT) THEN 'test'
                 ELSE 'train' END AS split,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        FROM documents
    )
    SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM s GROUP BY split ORDER BY split
    """,
)


@query("text_length_outliers")
def text_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-outlier trimming: docs outside the source's exact
    [p05, p95] token-length band are dropped. Quantiles are ONE tiny
    per-source aggregate broadcast back — the classic two-pass trim with
    no corpus shuffle."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", "source", stext.ws_token_count("text").alias("n_tok")
    )
    bands = toks.groupBy("source").agg(
        F.percentile(F.col("n_tok").cast("double"), 0.05).alias("p05"),
        F.percentile(F.col("n_tok").cast("double"), 0.95).alias("p95"),
    )
    return (
        toks.join(F.broadcast(bands), "source")
        .filter((F.col("n_tok") >= F.col("p05")) & (F.col("n_tok") <= F.col("p95")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
        )
        .orderBy("source")
    )


oracle(
    "text_length_outliers",
    r"""
    WITH toks AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        FROM documents
    ), bands AS (
        SELECT source,
               quantile_cont(CAST(n_tok AS DOUBLE), 0.05) AS p05,
               quantile_cont(CAST(n_tok AS DOUBLE), 0.95) AS p95
        FROM toks GROUP BY source
    )
    SELECT t.source, count(*) AS n_kept, min(n_tok) AS min_tok, max(n_tok) AS max_tok
    FROM toks t JOIN bands b ON t.source = b.source
    WHERE t.n_tok >= b.p05 AND t.n_tok <= b.p95
    GROUP BY t.source ORDER BY t.source
    """,
)


@query("passage_dedup")
def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (sub-document) duplication audit, the CCNet/MassiveText
    granularity between exact-doc and n-gram dedup: each doc is cut into
    16-token passages, passages are md5-hashed, and a passage is duplicate
    when its hash occurs in more than one document. Returns each document's
    duplicated-passage fraction.

    Scale shape: only 16-byte passage hashes + doc ids cross the wire
    (never text); the count is one map-side-combined aggregate keyed by
    hash; the per-doc fraction is a second small aggregate. Work is linear
    in corpus tokens."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.split(normalized_text(F.col("text")), " ").alias("toks")
    )
    n_pass = F.ceil(F.size("toks") / F.lit(16.0)).cast("int")
    passages = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_pass - 1),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("toks"), i * 16 + 1, 16)).cast(
                        "binary"
                    )
                ),
            )
        ).alias("pidx", "phash"),
    )
    cross_doc = passages.groupBy("phash").agg(
        F.countDistinct("doc_id").alias("__docs__")
    )
    return (
        passages.join(cross_doc, "phash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum((F.col("__docs__") > 1).cast("long")).alias("n_dup_passages"),
            (
                F.sum((F.col("__docs__") > 1).cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


oracle(
    "passage_dedup",
    r"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                            ' ') AS arr
        FROM documents
    ), passages AS (
        SELECT doc_id, i,
               md5(array_to_string(list_slice(arr, i * 16 + 1, i * 16 + 16),
                                   ' ')) AS phash
        FROM toks CROSS JOIN range(0, 4096) t(i)
        WHERE i < ceil(len(arr) / 16.0)
    ), cross_doc AS (
        SELECT phash, count(DISTINCT doc_id) AS n_docs FROM passages GROUP BY phash
    )
    SELECT p.doc_id,
           count(*) AS n_passages,
           CAST(sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
           CAST(sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS dup_frac
    FROM passages p JOIN cross_doc c ON p.phash = c.phash
    GROUP BY p.doc_id ORDER BY p.doc_id
    """,
)


_TFIDF_TERMS = ["spark", "table", "query", "window", "merge"]


@query("text_tfidf_topk")
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF retrieval scoring: the 20 documents scoring highest for a
    fixed term set, smooth idf = ln((N+1)/(df+1)) + 1. ONE tokenize pass
    over the text feeds everything: per-doc term frequencies
    partial-aggregate map-side and are materialized; document
    frequencies are then a count over the tf rows (count of docs per
    term ≡ countDistinct over the raw tokens) — re-deriving them from
    the raw text would be a second full-text scan+explode. The tiny df
    table broadcasts back; ranking is a fully ordered deterministic
    top-k."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token").isin(_TFIDF_TERMS))
    n_docs = doc.agg(F.count(F.lit(1)).alias("__n__"))
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(_materialize)
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            (
                F.col("tf")
                * (
                    F.log((F.col("__n__") + 1.0) / (F.col("df") + 1.0))
                    + F.lit(1.0)
                )
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


oracle(
    "text_tfidf_topk",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
        FROM documents
    ), hits AS (
        SELECT doc_id, token FROM toks
        WHERE token IN ('spark', 'table', 'query', 'window', 'merge')
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf FROM hits GROUP BY 1, 2
    ), df AS (
        SELECT token, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1
    )
    SELECT tf.doc_id,
           round(sum(tf.tf * (ln(((SELECT count(*) FROM documents) + 1.0)
                                 / (df.df + 1.0)) + 1.0)), 4) AS score
    FROM tf JOIN df ON tf.token = df.token
    GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20
    """,
)


@query("text_token_entropy")
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (nats) — the
    information-density quality signal complementing the repetition
    fractions: machine-generated loops score low, diverse prose high.
    Plan: token explosion → per-(doc,token) counts → per-doc Σ p·ln p.
    Same cost class as any inverted-index build, partial-aggregated."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token"),
    ).filter(F.length("token") > 0)
    per_tok = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(
                F.log(F.sum("c"))
                - F.sum(F.col("c") * F.log(F.col("c"))) / F.sum("c"),
                4,
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


oracle(
    "text_token_entropy",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
        FROM documents
    ), per_tok AS (
        SELECT doc_id, token, count(*) AS c FROM toks
        WHERE length(token) > 0 GROUP BY 1, 2
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
    FROM per_tok GROUP BY doc_id ORDER BY doc_id
    """,
)


@query("pipeline_end_to_end")
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation DAG a real pretraining prep run executes —
    quality gate → exact dedup → deterministic split — as ONE lazy plan
    (no materialization between stages; Catalyst fuses the row-local
    stages into the dedup aggregate's map side):

      1. Gopher rule gate (row-local filter),
      2. exact dedup on normalized-content md5 keeping the min doc_id
         (one hash aggregate shuffling 16-byte hashes + ids),
      3. md5 train/val/test split (row-local),
      4. per-split corpus stats.

    Every stage is individually oracled elsewhere; this query pins the
    COMPOSITION (stage ordering and interactions) against one nested-CTE
    SQL twin."""
    from sdc_spark.operators.curation import split_train_val_test
    from sdc_spark.operators.dedup import normalized_text

    doc = _t(spark, sf_dir, "documents")
    gated = doc.filter(stext.gopher_keep("text"))
    hashed = gated.select(
        "doc_id",
        "text",
        F.md5(normalized_text(F.col("text")).cast("binary")).alias("__h__"),
    )
    survivors = hashed.groupBy("__h__").agg(F.min("doc_id").alias("doc_id"))
    deduped = hashed.join(survivors, ["__h__", "doc_id"], "left_semi")
    split = split_train_val_test(deduped, "doc_id", val_frac=0.05, test_frac=0.05)
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(stext.ws_token_count("text")).alias("n_tokens"),
            F.countDistinct("__h__").alias("n_unique"),
        )
        .orderBy("split")
    )


oracle(
    "pipeline_end_to_end",
    r"""
    WITH gated AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
                   list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
                                           w -> length(w))) AS sum_wl,
                   len(regexp_extract_all(trim(text), '#|\.\.\.')) AS n_symbol,
                   len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
                   len(regexp_extract_all(
                       regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                       '(^| )(the|and|of|to|is|with)( |$)')) AS n_stop
            FROM documents
        )
        WHERE coalesce(n_words >= 30 AND n_words <= 50000, FALSE)
          AND coalesce(CAST(sum_wl AS DOUBLE) / n_words >= 3.0
                       AND CAST(sum_wl AS DOUBLE) / n_words <= 10.0, FALSE)
          AND coalesce(CAST(n_symbol AS DOUBLE) / n_words < 0.1, FALSE)
          AND coalesce(CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8, FALSE)
          AND coalesce(n_stop >= 2, FALSE)
    ), hashed AS (
        SELECT doc_id, text,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
        FROM gated
    ), deduped AS (
        SELECT hh.* FROM hashed hh
        JOIN (SELECT h, min(doc_id) AS doc_id FROM hashed GROUP BY h) s
          ON hh.h = s.h AND hh.doc_id = s.doc_id
    ), split AS (
        SELECT *,
               CASE
                 WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      < CAST(floor(0.05 * 4294967296.0) AS BIGINT) THEN 'val'
                 WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      < CAST(floor(0.10 * 4294967296.0) AS BIGINT) THEN 'test'
                 ELSE 'train' END AS split
        FROM deduped
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_tokens,
           count(DISTINCT h) AS n_unique
    FROM split GROUP BY split ORDER BY split
    """,
)


@query("quality_calibrated_filter")
def quality_calibrated_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: documents ranked by quality score
    WITHIN their source (percent_rank over a per-source window — one hash
    shuffle on source), keeping each source's top 60%. Absolute-threshold
    filters starve clean sources and flood noisy ones; percentile
    calibration keeps the mix stable — the practical form of quality
    gating when sources differ systematically."""
    doc = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    scored = doc.select(
        "doc_id", "source", stext.quality_score("text").alias("q")
    )
    w = W.partitionBy("source").orderBy("q", "doc_id")
    ranked = scored.withColumn("pr", F.percent_rank().over(w))
    return (
        ranked.filter(F.col("pr") >= 0.4)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.min("q"), 4).alias("q_floor"),
        )
        .orderBy("source")
    )


oracle(
    "quality_calibrated_filter",
    r"""
    WITH c AS (
        SELECT doc_id, source,
               length(text) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
               len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
               len(regexp_extract_all(
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                   '(^| )(the|and|of|to|is|with)( |$)')) AS n_stop
        FROM documents
    ), scored AS (
        SELECT doc_id, source,
               (CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.4
                 + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.2
                 + least((CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 4.0,
                         1.0) * 0.4 AS q
        FROM c
    ), ranked AS (
        SELECT source, q,
               percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS pr
        FROM scored
    )
    SELECT source, count(*) AS n_kept, round(min(q), 4) AS q_floor
    FROM ranked WHERE pr >= 0.4
    GROUP BY source ORDER BY source
    """,
)


@query("multimodal_decode_bmp")
def multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the Arrow plumbing, hash-verified: each
    embeddings row synthesizes a constant-color 24-bit BMP (color/size are
    pure functions of vec_id/label), the payload goes through the
    production decode_bmp Arrow stage, and the oracle predicts the
    decoded dimensions and channel means analytically. Pins header
    parsing, stride alignment, bottom-up raster order, and the Arrow
    binary round-trip — not just schema shape."""
    import struct

    import numpy as np

    from sdc_spark.operators.multimodal import decode_bmp

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")

    def payload(vid, lab):
        w = 4 + vid % 5
        h = 2 + lab % 3
        rgb = (lab * 37 % 256, lab * 57 % 256, lab * 77 % 256)
        stride = (w * 3 + 3) & ~3
        row = bytes([rgb[2], rgb[1], rgb[0]] * w) + bytes(stride - w * 3)
        raster = row * h
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
        )
        return hdr + info + raster

    payloads = _payloads(emb, payload)
    return decode_bmp(payloads).select(
        "id", "width", "height", "bpp", "mean_r", "mean_g", "mean_b"
    ).orderBy("id")


oracle(
    "multimodal_decode_bmp",
    """
    SELECT vec_id AS id,
           CAST(4 + vec_id % 5 AS INT) AS width,
           CAST(2 + label % 3 AS INT) AS height,
           CAST(24 AS INT) AS bpp,
           CAST(label * 37 % 256 AS DOUBLE) AS mean_r,
           CAST(label * 57 % 256 AS DOUBLE) AS mean_g,
           CAST(label * 77 % 256 AS DOUBLE) AS mean_b
    FROM embeddings ORDER BY id
    """,
)


@query("multimodal_decode_png")
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode (stdlib zlib inflate + numpy un-filtering — no
    PIL), hash-verified like multimodal_decode_bmp: each embeddings row
    synthesizes a horizontal-gradient RGB PNG (dimensions and channel
    bases are pure functions of vec_id/label; row 0 sub-filtered, the
    rest up-filtered, so both vectorized un-filter paths execute), and
    the oracle predicts dimensions and channel means analytically:
    mean_c = base_c + (w-1)/2 for a base+x gradient."""
    import numpy as np

    from sdc_spark.operators.multimodal import decode_png, encode_png

    emb = spread_scan_py(
        _t(spark, sf_dir, "embeddings").select("vec_id", "label"), "vec_id"
    )

    def payload(vid, lab):
        w = 4 + vid % 5
        h = 2 + lab % 3
        bases = (lab * 37 % 200, lab * 57 % 200, lab * 77 % 200)
        x = np.arange(w, dtype=np.int32)
        row = np.stack([b + x for b in bases], axis=1)  # (w, 3), max 206
        px = np.broadcast_to(row, (h, w, 3)).astype(np.uint8)
        filters = [1] + [2] * (h - 1)
        return encode_png(px, filters=filters)

    payloads = _payloads(emb, payload)
    return decode_png(payloads).select(
        "id", "width", "height", "bit_depth", "color_type",
        "mean_r", "mean_g", "mean_b",
    ).orderBy("id")


oracle(
    "multimodal_decode_png",
    """
    SELECT vec_id AS id,
           CAST(4 + vec_id % 5 AS INT) AS width,
           CAST(2 + label % 3 AS INT) AS height,
           CAST(8 AS INT) AS bit_depth,
           CAST(2 AS INT) AS color_type,
           CAST(label * 37 % 200 + (4 + vec_id % 5 - 1) / 2.0 AS DOUBLE) AS mean_r,
           CAST(label * 57 % 200 + (4 + vec_id % 5 - 1) / 2.0 AS DOUBLE) AS mean_g,
           CAST(label * 77 % 200 + (4 + vec_id % 5 - 1) / 2.0 AS DOUBLE) AS mean_b
    FROM embeddings ORDER BY id
    """,
)


@query("multimodal_decode_jpeg")
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode (pure-numpy huffman + IDCT,
    operators/jpeg.py — no libjpeg), hash-verified: each embeddings row
    synthesizes a constant-color JPEG at quality 75, where the DC
    quantization step (8) exactly equals the DCT DC gain, so the decoded
    pixel value — and hence every channel mean — equals the input value
    EXACTLY and the oracle is analytic. Pins marker parsing, huffman
    tables, DC prediction, dequantize/IDCT, and YCbCr round-trip."""
    import numpy as np

    from sdc_spark.operators.jpeg import jpeg_encode
    from sdc_spark.operators.multimodal import decode_jpeg

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label").filter(
        F.col("vec_id") < 200
    )

    def payload(vid, lab):
        w = 9 + vid % 8
        h = 6 + lab % 5
        val = lab * 31 % 256
        px = np.full((h, w, 3), val, np.uint8)
        return jpeg_encode(px, quality=75)

    payloads = _payloads(emb, payload)
    # backend pinned: the analytic oracle depends on the pure decoder's
    # exact IDCT rounding; libjpeg (PIL) is not bit-identical on JPEG
    return decode_jpeg(payloads, backend="numpy").select(
        "id", "width", "height", "n_components",
        "mean_r", "mean_g", "mean_b",
    ).orderBy("id")


oracle(
    "multimodal_decode_jpeg",
    """
    SELECT vec_id AS id,
           CAST(9 + vec_id % 8 AS INT) AS width,
           CAST(6 + label % 5 AS INT) AS height,
           CAST(3 AS INT) AS n_components,
           CAST(label * 31 % 256 AS DOUBLE) AS mean_r,
           CAST(label * 31 % 256 AS DOUBLE) AS mean_g,
           CAST(label * 31 % 256 AS DOUBLE) AS mean_b
    FROM embeddings WHERE vec_id < 200 ORDER BY id
    """,
)


@query("multimodal_decode_jpeg_progressive")
def multimodal_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode (SOF2 — spectral selection +
    successive approximation, T.81 G.1/G.2; operators/jpeg.py), same
    analytic fixture as multimodal_decode_jpeg: constant-color clips at
    quality 75 where the decoded value equals the input EXACTLY. The
    synthesized stream uses a real SA script (DC Al=1 pass + Al=0
    refinement bit-plane, AC spectrally split 1-5/6-63 each with an Al=1
    first pass and an Al=0 refinement pass), so the oracle pins every
    progressive data-unit kind: DC first/refine, AC first with EOB runs,
    and the G.1.2.3 AC refinement walk. Backend pinned to the numpy
    decoder (libjpeg IDCT rounding differs)."""
    import numpy as np

    from sdc_spark.operators.jpeg import jpeg_encode_progressive
    from sdc_spark.operators.multimodal import decode_jpeg

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label").filter(
        F.col("vec_id") < 200
    )

    def payload(vid, lab):
        w = 9 + vid % 8
        h = 6 + lab % 5
        val = lab * 31 % 256
        px = np.full((h, w, 3), val, np.uint8)
        return jpeg_encode_progressive(px, quality=75)

    payloads = _payloads(emb, payload)
    return decode_jpeg(payloads, backend="numpy").select(
        "id", "width", "height", "n_components",
        "mean_r", "mean_g", "mean_b",
    ).orderBy("id")


oracle(
    "multimodal_decode_jpeg_progressive",
    """
    SELECT vec_id AS id,
           CAST(9 + vec_id % 8 AS INT) AS width,
           CAST(6 + label % 5 AS INT) AS height,
           CAST(3 AS INT) AS n_components,
           CAST(label * 31 % 256 AS DOUBLE) AS mean_r,
           CAST(label * 31 % 256 AS DOUBLE) AS mean_g,
           CAST(label * 31 % 256 AS DOUBLE) AS mean_b
    FROM embeddings WHERE vec_id < 200 ORDER BY id
    """,
)


@query("multimodal_audio_features")
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FFT audio features, hash-verified analytically: each event
    row synthesizes a square-wave WAV (alternates sign every k samples),
    where RMS == amplitude EXACTLY and the zero-crossing count is
    floor((n-1)/k) by construction — both predicted in closed form by the
    oracle. Pins WAV chunk parsing, channel de-interleave, the ZCR
    kernel, and the RMS reduction (spectral columns are pinned by the
    sine-wave unit test; a square wave's FFT bin alignment depends on
    divisibility, so the oracle sticks to the exact columns)."""
    import struct

    import numpy as np

    from sdc_spark.operators.multimodal import audio_features

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id").filter(
        F.col("event_id") < 1500
    )

    def payload(eid, uid):
        rate = 4000
        n = 1000 + eid % 7
        k = 2 + eid % 9
        amp = (uid % 50 + 1) * 100
        t = np.arange(n)
        samples = np.where((t // k) % 2 == 0, amp, -amp).astype("<i2")
        data = samples.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        riff = 4 + (8 + len(fmt)) + (8 + len(data))
        return (
            b"RIFF" + struct.pack("<I", riff) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    payloads = _payloads(ev, payload)
    # backend pinned: the analytic oracle is graded against the numpy
    # WAV floor's int16 raw scale; soundfile must not be auto-picked on
    # deployments that ship it
    feats = audio_features(payloads, backend="numpy")
    return feats.select(
        "id",
        "sample_rate",
        "n_samples",
        F.round("rms", 4).alias("rms"),
        (F.round(F.col("zcr") * 1_000_000)).cast("long").alias("zcr_e6"),
    ).orderBy("id")


oracle(
    "multimodal_audio_features",
    """
    WITH params AS (
        SELECT event_id AS id,
               1000 + event_id % 7 AS n,
               2 + event_id % 9 AS k,
               (user_id % 50 + 1) * 100 AS amp
        FROM events WHERE event_id < 1500
    )
    SELECT id,
           CAST(4000 AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(amp AS DOUBLE) AS rms,
           CAST(round(((n - 1) // k) * 1000000.0 / (n - 1))
                AS BIGINT) AS zcr_e6
    FROM params ORDER BY id
    """,
)


@query("multimodal_video_frames")
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling over YUV4MPEG2 clips (pure-numpy Y4M
    parsing — no ffmpeg), hash-verified analytically: each embeddings row
    synthesizes a 6-frame clip whose frame-k luma is the constant
    (label*31 + k*7) % 256 — even vec_ids as C420 (constant chroma
    planes), odd as Cmono — and the stride-2 sampler emits frames 0/2/4.
    Every output column (dims, per-plane means, the scene-change
    delta_prev between sampled frames) is a closed-form function of
    (vec_id, label), so the oracle pins header parsing, the C420/mono
    plane walk, the sampling stride, and the delta chain end-to-end."""
    import numpy as np

    from sdc_spark.operators.multimodal import encode_y4m, video_frame_features

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label").filter(
        F.col("vec_id") < 300
    )

    def payload(vid, lab):
        w = 8 + 2 * (vid % 4)
        h = 4 + 2 * (lab % 3)
        y = np.stack(
            [np.full((h, w), (lab * 31 + k * 7) % 256, np.uint8) for k in range(6)]
        )
        if vid % 2 == 0:
            u = np.full((6, h // 2, w // 2), lab * 53 % 256, np.uint8)
            v = np.full((6, h // 2, w // 2), lab * 71 % 256, np.uint8)
            return encode_y4m(y, u, v)
        return encode_y4m(y)

    payloads = _payloads(emb, payload)
    return video_frame_features(payloads, stride=2).orderBy("id", "frame_idx")


oracle(
    "multimodal_video_frames",
    """
    SELECT vec_id AS id,
           CAST(k AS INT) AS frame_idx,
           CAST(6 AS INT) AS n_frames,
           CAST(8 + 2 * (vec_id % 4) AS INT) AS width,
           CAST(4 + 2 * (label % 3) AS INT) AS height,
           CAST((label * 31 + k * 7) % 256 AS DOUBLE) AS mean_y,
           CASE WHEN vec_id % 2 = 0
                THEN CAST(label * 53 % 256 AS DOUBLE) END AS mean_u,
           CASE WHEN vec_id % 2 = 0
                THEN CAST(label * 71 % 256 AS DOUBLE) END AS mean_v,
           CASE WHEN k > 0
                THEN CAST(abs((label * 31 + k * 7) % 256
                            - (label * 31 + (k - 2) * 7) % 256) AS DOUBLE)
           END AS delta_prev
    FROM embeddings CROSS JOIN (SELECT unnest([0, 2, 4]) AS k)
    WHERE vec_id < 300 ORDER BY id, frame_idx
    """,
)


@query("multimodal_decode_gif")
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode (pure-Python variable-width LZW + numpy palette
    mapping, operators/gif.py — no PIL), hash-verified analytically:
    each embeddings row synthesizes an animated GIF of 1 + label%3
    frames, frame k filled with palette index k whose RGB entry is a
    closed-form function of (label, k); the decoder composites every
    frame and the per-channel means equal the average of those palette
    entries exactly. Pins header/color-table parsing, sub-block
    reassembly, LZW dictionary growth, multi-frame walking, and the
    frame-average reduction."""
    import numpy as np

    from sdc_spark.operators.gif import gif_encode
    from sdc_spark.operators.multimodal import decode_gif

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label").filter(
        F.col("vec_id") < 300
    )

    def payload(vid, lab):
        w = 5 + vid % 6
        h = 3 + lab % 4
        nf = 1 + lab % 3
        pal = np.array(
            [
                (
                    (lab * 37 + k * 11) % 256,
                    (lab * 57 + k * 13) % 256,
                    (lab * 77 + k * 17) % 256,
                )
                for k in range(max(nf, 2))
            ],
            dtype=np.uint8,
        )
        frames = [np.full((h, w), k, np.uint8) for k in range(nf)]
        return gif_encode(frames, pal)

    payloads = _payloads(emb, payload)
    dec = decode_gif(payloads)
    return dec.select(
        "id", "width", "height", "n_frames",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    ).orderBy("id")


oracle(
    "multimodal_decode_gif",
    """
    SELECT vec_id AS id,
           CAST(5 + vec_id % 6 AS INT) AS width,
           CAST(3 + label % 4 AS INT) AS height,
           CAST(1 + label % 3 AS INT) AS n_frames,
           round(avg((label * 37 + k * 11) % 256), 4) AS mean_r,
           round(avg((label * 57 + k * 13) % 256), 4) AS mean_g,
           round(avg((label * 77 + k * 17) % 256), 4) AS mean_b
    FROM embeddings CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)
    WHERE vec_id < 300 AND k < 1 + label % 3
    GROUP BY vec_id, label ORDER BY id
    """,
)


@query("dedup_image_phash")
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level near-duplicate detection on perceptual hashes: each
    embeddings row (vec_id < 100) synthesizes a PNG whose pixels are a
    pure function of its LABEL, so rows sharing a label are exact visual
    duplicates; pHash-64 (32x32 DCT sign bits) collides exactly within a
    label group, and the bucket join on the 8-byte hash — never the
    image — emits the pair list. The oracle reconstructs the same pairs
    relationally from the synthesis rule (label self-join). Distinct
    labels land far apart in hamming space (pinned by the codec tests),
    so bucket-equality is the whole dup call here."""
    import numpy as np

    from sdc_spark.operators.multimodal import encode_png, image_phash

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label").filter(
        F.col("vec_id") < 100
    )

    def payload(vid, lab):
        rng = np.random.RandomState(lab + 17)
        base = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
        px = np.repeat(np.repeat(base, 4, axis=0), 4, axis=1)
        return encode_png(px)

    payloads = _payloads(emb, payload)
    # backend pinned: phash bits flip with sub-LSB decode differences
    # (PNG decode is lossless on both backends, but pin anyway so the
    # graded row cannot depend on the worker's site-packages)
    hashed = image_phash(payloads, backend="numpy")
    a = hashed.select(F.col("id").alias("id_a"), F.col("phash").alias("ha"))
    b = hashed.select(F.col("id").alias("id_b"), F.col("phash").alias("hb"))
    return (
        a.join(b, (F.col("ha") == F.col("hb")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


oracle(
    "dedup_image_phash",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE a.vec_id < 100 AND b.vec_id < 100
    ORDER BY id_a, id_b
    """,
)


@query("multimodal_decode_wav")
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, hash-verified like multimodal_decode_bmp: each
    event row synthesizes a 16-bit PCM square-wave WAV (rate/length/
    amplitude are pure functions of the row), decoded by the production
    decode_wav stage; the oracle predicts duration and RMS analytically
    (square wave -> RMS == amplitude exactly, in integer samples)."""
    import struct

    import numpy as np

    from sdc_spark.operators.multimodal import decode_wav

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id").filter(
        F.col("event_id") < 2000
    )

    def payload(eid, uid):
        rate = 8000
        n = 400 + eid % 100
        amp = (uid % 50 + 1) * 100
        t = np.arange(n)
        samples = np.where(t % 2 == 0, amp, -amp).astype("<i2")
        data = samples.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        riff_sz = 4 + (8 + len(fmt)) + (8 + len(data))
        return (
            b"RIFF" + struct.pack("<I", riff_sz) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    payloads = _payloads(ev, payload)
    return decode_wav(payloads).select(
        "id",
        "sample_rate",
        "channels",
        "bit_depth",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 4).alias("rms"),
    ).orderBy("id")


oracle(
    "multimodal_decode_wav",
    """
    SELECT event_id AS id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           CAST(16 AS INT) AS bit_depth,
           CAST(400 + event_id % 100 AS BIGINT) AS n_samples,
           round((400 + event_id % 100) / 8000.0, 6) AS duration_s,
           round(CAST((user_id % 50 + 1) * 100 AS DOUBLE), 4) AS rms
    FROM events WHERE event_id < 2000 ORDER BY id
    """,
)


@query("retrieval_end_to_end")
def retrieval_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed retrieval pipeline: exact cosine top-3 neighbors for 5
    query vectors (broadcast queries, one corpus scan — ann_cosine_topk's
    plan), then neighbor ids joined back to the documents table for
    display metadata (broadcast dim join keyed on doc_id = vec_id in the
    synthetic corpus). Pins the retrieval DAG end-to-end: scoring, per-
    query ranking, and the metadata join."""
    from sdc_spark.operators.similarity import ann_bruteforce_topk

    emb = _t(spark, sf_dir, "embeddings")
    doc = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), "source", "lang", "n_chars"
    )
    q = emb.filter(F.col("vec_id") < 5)
    topk = ann_bruteforce_topk(emb, q, k=3)
    return (
        topk.join(F.broadcast(doc), topk.nid == doc.doc_id)
        .select("qid", "rank", "nid", "source", "lang", "n_chars")
        .orderBy("qid", "rank")
    )


oracle(
    "retrieval_end_to_end",
    """
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5
    ), scored AS (
        SELECT q.qid, v.vec_id AS nid,
               list_sum(list_transform(list_zip(q.qvec, v.embedding),
                                       p -> CAST(p[1] AS DOUBLE) * p[2]))
               / (sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * x)))
                  * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * x))))
               AS cos
        FROM q CROSS JOIN embeddings v WHERE v.vec_id <> q.qid
    ), ranked AS (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
        FROM scored
    )
    SELECT r.qid, r.rank, r.nid, d.source, d.lang, d.n_chars
    FROM ranked r JOIN documents d ON r.nid = d.doc_id
    WHERE r.rank <= 3 ORDER BY r.qid, r.rank
    """,
)


@query("embedding_label_stats")
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space slice diagnostics: per label, vector count and the
    norm distribution (mean/std/min/max) — the cheap per-slice sanity
    readout before clustering/ANN index decisions. Norm is a row-local
    array fold; one tiny aggregate."""
    from sdc_spark.operators.similarity import norm

    emb = _t(spark, sf_dir, "embeddings")
    withn = emb.select("label", norm(F.col("embedding")).alias("nrm"))
    return (
        withn.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 4).alias("norm_mean"),
            F.round(F.stddev_samp("nrm"), 4).alias("norm_std"),
            F.round(F.min("nrm"), 4).alias("norm_min"),
            F.round(F.max("nrm"), 4).alias("norm_max"),
        )
        .orderBy("label")
    )


oracle(
    "embedding_label_stats",
    """
    WITH n AS (
        SELECT label,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    )
    SELECT label, count(*) AS n,
           round(avg(nrm), 4) AS norm_mean,
           round(stddev_samp(nrm), 4) AS norm_std,
           round(min(nrm), 4) AS norm_min,
           round(max(nrm), 4) AS norm_max
    FROM n GROUP BY label ORDER BY label
    """,
)


@query("pack_sequences_by_source")
def pack_sequences_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-scoped sequence packing: each source packs its own document
    stream into 2048-token windows (the per-shard layout used when
    shards must stay self-contained for resumable training). Unlike the
    global pack (operators/curation.pack_sequences — distributed prefix
    scan), the per-source prefix sum is a plain window inside the source
    partition: one hash shuffle, no cross-partition carry needed."""
    from pyspark.sql import Window as W

    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", "source", stext.ws_token_count("text").alias("n_tok")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    staged = toks.withColumn("cum", F.sum("n_tok").over(w)).withColumn(
        "start", F.col("cum") - F.col("n_tok")
    )
    budget = 2048
    return staged.select(
        "source",
        "doc_id",
        F.expr(f"start div {budget}").alias("pack_id"),
        (F.col("start") % budget).alias("offset"),
        (
            (F.col("n_tok") > 0)
            & (F.expr(f"start div {budget}") != F.expr(f"(cum - 1) div {budget}"))
        ).alias("spans_boundary"),
    ).orderBy("source", "doc_id")


oracle(
    "pack_sequences_by_source",
    r"""
    WITH toks AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        FROM documents
    ), staged AS (
        SELECT source, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum
        FROM toks
    )
    SELECT source, doc_id,
           CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
           CAST((cum - n_tok) % 2048 AS BIGINT) AS offset,
           (n_tok > 0 AND (cum - n_tok) // 2048 <> (cum - 1) // 2048)
             AS spans_boundary
    FROM staged ORDER BY source, doc_id
    """,
)


@query("text_bigram_lm_score")
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality score: a bigram language model with
    add-one smoothing is fitted on the corpus itself (two hash aggregates:
    bigram counts, unigram counts) and every document is scored by its
    mean token log-probability — low scores flag boilerplate/garbled text,
    the classic perplexity gate before training.

    Plan shape at 100 TB: bigram extraction is row-local (zip of the token
    array with its own tail — no self-join, no positions shuffle); the
    count tables are partial-aggregated; the scoring join is keyed by
    bigram with map-side-combined per-(doc,bigram) multiplicities. Nothing
    leaves the JVM."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.split(normalized_text(F.col("text")), " ").alias("t")
    ).filter(F.size("t") >= 2)
    big = (
        toks.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("t"), 1, F.size("t") - 1).alias("w1"),
                    F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        # four consumers (per-doc multiplicities, c12, c1, vocab): without
        # this the normalize+split+zip pipeline re-scans the raw corpus 4x
        # (explain_audit showed scans=4); on a cluster persist instead
        .transform(_materialize)
    )
    per_doc = big.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("m"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = big.select(F.countDistinct("w2").alias("v"))
    scored = (
        per_doc.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "m",
            (F.log((F.col("c12") + 1).cast("double"))
             - F.log((F.col("c1") + F.col("v")).cast("double"))).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.round(F.sum(F.col("m") * F.col("lp")) / F.sum("m"), 4).alias("mean_lp"),
        )
        .orderBy("doc_id")
    )


oracle(
    "text_bigram_lm_score",
    r"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM documents
    ), big AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
        WHERE len(t) >= 2
    ), per_doc AS (
        SELECT doc_id, w1, w2, count(*) AS m FROM big GROUP BY 1, 2, 3
    ), c12 AS (
        SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2
    ), c1 AS (
        SELECT w1, count(*) AS c1 FROM big GROUP BY 1
    ), v AS (
        SELECT count(DISTINCT w2) AS v FROM big
    )
    SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(sum(m * (ln(CAST(c12 + 1 AS DOUBLE)) - ln(CAST(c1 + v.v AS DOUBLE)))) / sum(m), 4) AS mean_lp
    FROM per_doc JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id ORDER BY doc_id
    """,
)


@query("text_bpe_tokenize")
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE subword tokenization (operators/bpe.py): vocabulary
    trained on the corpus word-frequency table (one scan + driver-side
    merge learning, deterministic), then applied per document in an
    Arrow-batched map. The merge model isn't SQL-expressible, but its
    CONTRACT is — the GRADED surface audits, per document: lossless
    reconstruction (tokens concatenated with the </w> markers stripped
    must equal the normalized words concatenated — BPE merges never
    cross word boundaries, so this is deterministic-true), and the token
    count must lie in [n_words, n_chars + n_words] (every word is >= 1
    token; a word of length L starts as L+1 symbols and merges only
    shrink it). Exact SQL oracle per doc. Reconstruction/determinism
    also pinned in tests/test_llm_data2.py."""
    from sdc_spark.operators import bpe

    doc = _t(spark, sf_dir, "documents")
    merges = bpe.train_bpe(doc, "text", num_merges=200, max_words=20000)
    tok = bpe.bpe_tokenize(doc, "text", "doc_id", merges)
    words = F.filter(
        F.split(normalized_text("text"), " "), lambda w: F.length(w) > 0
    )
    norm = doc.select(
        "doc_id",
        F.array_join(words, "").alias("joined_words"),
        F.size(words).alias("n_words"),
    ).withColumn("n_chars", F.length("joined_words"))
    j = tok.join(norm, "doc_id")
    rebuilt = F.replace(
        F.array_join("tokens", ""), F.lit(bpe.EOW), F.lit("")
    )
    return j.select(
        "doc_id",
        (rebuilt == F.col("joined_words")).alias("roundtrip_ok"),
        (F.col("n_tokens") >= F.col("n_words")).alias("tokens_ge_words"),
        (F.col("n_tokens") <= F.col("n_chars") + F.col("n_words")).alias(
            "tokens_le_chars"
        ),
    ).orderBy("doc_id")


oracle(
    "text_bpe_tokenize",
    """
    SELECT doc_id, TRUE AS roundtrip_ok, TRUE AS tokens_ge_words,
           TRUE AS tokens_le_chars
    FROM documents ORDER BY doc_id
    """,
)


@query("sample_temperature_mix")
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing (alpha=0.5): target share ∝ actual^0.5, rare
    sources boosted, dominant sources downsampled, most-boosted stratum
    kept whole. Deterministic md5-threshold keep — exactly oracled."""
    from sdc_spark.operators.curation import temperature_resample

    doc = _t(spark, sf_dir, "documents")
    kept = temperature_resample(doc, "source", "doc_id", alpha=0.5)
    return (
        kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("source")
    )


oracle(
    "sample_temperature_mix",
    r"""
    WITH counts AS (
        SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ),
    shares AS (
        SELECT source, CAST(n_s AS DOUBLE) / (SELECT sum(n_s) FROM counts) AS share
        FROM counts
    ),
    ratios AS (
        SELECT source,
               (pow(share, 0.5) / (SELECT sum(pow(share, 0.5)) FROM shares)) / share AS r
        FROM shares
    ),
    probs AS (
        SELECT source, r / (SELECT max(r) FROM ratios) AS p FROM ratios
    )
    SELECT d.source, count(*) AS n_kept
    FROM documents d JOIN probs s ON d.source = s.source
    WHERE lpad(substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8), 9, '0')
          < lpad(lower(to_hex(CAST(floor(s.p * 4294967296.0) AS BIGINT))), 9, '0')
    GROUP BY d.source ORDER BY d.source
    """,
)


@query("pack_efficiency")
def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-audit readout over the sequence packer: per 2048-token pack,
    how many documents START in it, how many tokens those docs carry, and
    how many of them get split across the cut — the doc-fragmentation
    dashboard for a concat-and-chunk batch builder (which by construction
    never pads, so fragmentation is the cost metric)."""
    from sdc_spark.operators.curation import pack_sequences

    doc = _t(spark, sf_dir, "documents").select(
        "doc_id", stext.ws_token_count("text").alias("n_tok")
    )
    packed = pack_sequences(doc, "doc_id", "n_tok", budget=2048)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_started"),
            F.sum(F.col("spans_boundary").cast("long")).alias("n_split"),
        )
        .orderBy("pack_id")
    )


oracle(
    "pack_efficiency",
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
    ), p AS (
        SELECT CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id, n_tokens,
               (n_tokens > 0 AND
                CAST((cum - n_tokens) // 2048 AS BIGINT)
                  <> CAST((cum - 1) // 2048 AS BIGINT)) AS spans_boundary
        FROM s
    )
    SELECT pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
           CAST(sum(CASE WHEN spans_boundary THEN 1 ELSE 0 END) AS BIGINT) AS n_split
    FROM p GROUP BY pack_id ORDER BY pack_id
    """,
)


@query("multimodal_resize")
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize (pure-numpy half-pixel-center bilinear,
    operators/codec_backend.bilinear_resize; PIL routes in automatically
    off-sandbox but the query pins backend='numpy' so the analytic oracle
    holds on any deployment), hash-verified like multimodal_decode_png.

    Fixture: each embeddings row synthesizes a PNG with a VERTICAL
    gradient of step 2 (px[y] = base_c + 2y, 6 rows) and horizontally
    constant columns (width 5 + vec_id % 4). Resizing to (5, 3) puts
    every vertical sample at t=0.5 between rows 2i and 2i+1 — an exact
    float blend (0.5*(b+4i) + 0.5*(b+4i+2) = b+4i+1, integers all the
    way), so the re-encoded PNG's channel means are analytic:
    mean_c = base_c + 5. A nearest-neighbor resampler would produce
    base_c+4 or base_c+6 — the oracle genuinely pins the interpolation
    weights, not just plumbing. Horizontal downscale blends identical
    columns (exact for any weights), covering varying input widths."""
    import numpy as np

    from sdc_spark.operators.multimodal import (
        decode_png,
        encode_png,
        resize_images,
    )

    emb = spread_scan_py(
        _t(spark, sf_dir, "embeddings").select("vec_id", "label"), "vec_id"
    )

    def payload(vid, lab):
        in_w = 5 + vid % 4
        bases = (lab * 37 % 180, lab * 57 % 180,
                 lab * 77 % 180)
        y = np.arange(6, dtype=np.int32)
        col = np.stack([b + 2 * y for b in bases], axis=1)  # (6, 3)
        px = np.repeat(col[:, None, :], in_w, axis=1).astype(np.uint8)
        return encode_png(px)

    payloads = _payloads(emb, payload)
    resized = resize_images(
        payloads, width=5, height=3, stub=False, backend="numpy"
    )
    return (
        decode_png(resized.select("id", "content"))
        .select("id", "width", "height", "mean_r", "mean_g", "mean_b")
        .orderBy("id")
    )


oracle(
    "multimodal_resize",
    """
    SELECT vec_id AS id,
           CAST(5 AS INT) AS width,
           CAST(3 AS INT) AS height,
           CAST(label * 37 % 180 + 5 AS DOUBLE) AS mean_r,
           CAST(label * 57 % 180 + 5 AS DOUBLE) AS mean_g,
           CAST(label * 77 % 180 + 5 AS DOUBLE) AS mean_b
    FROM embeddings ORDER BY id
    """,
)


@query("text_multibyte_pipeline")
def text_multibyte_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multibyte (non-ASCII) grading of the crawl-text pipeline: the
    corpus text is deterministically accent/CJK-ified on BOTH engines
    (vowels → ä/é/ï/ø/ü, a Katakana + '№' + em-dash suffix), wrapped in
    HTML chrome, run through the full html_to_text extractor, and
    compared BYTE-FOR-BYTE via md5 over the UTF-8 bytes — plus
    codepoint length vs octet_length (chars != bytes exactly when
    multibyte handling is correct), token counts over the extracted
    text, and an upper→lower case round-trip fingerprint (exercises
    unicode case mapping: Ä→ä, É→é, Ø→ø; caseless scripts unchanged).
    Every step is the same pure JVM expression chain the ASCII-graded
    queries use — this query closes the unicode gap those oracles left
    (reference: the engine's string kernels are UTF-8-aware,
    sdc/str_arr_type.py:84-111)."""
    doc = _t(spark, sf_dir, "documents")
    mb = F.lower(F.col("text"))
    for a, b in (("a", "ä"), ("e", "é"), ("i", "ï"), ("o", "ø"), ("u", "ü")):
        mb = F.regexp_replace(mb, a, b)
    mb = F.concat(
        mb, F.lit(" — テキスト№"), F.col("doc_id").cast("string")
    )
    html = F.concat(
        F.lit('<p lang="mul">'),
        mb,
        F.lit('</p><script>var s="多言語 skip";</script><ul><li>café&nbsp;бар</li></ul>'),
    )
    ext = stext.html_to_text(html)
    return doc.select(
        "doc_id",
        F.length(ext).alias("n_chars"),
        F.octet_length(ext).alias("n_bytes"),
        F.size(F.split(ext, " ")).alias("n_tokens"),
        F.md5(ext).alias("fp"),
        F.md5(F.lower(F.upper(ext))).alias("case_fp"),
    ).orderBy("doc_id")


oracle(
    "text_multibyte_pipeline",
    r"""
    WITH mb AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(lower(text), 'a', 'ä', 'g'),
                   'e', 'é', 'g'), 'i', 'ï', 'g'), 'o', 'ø', 'g'), 'u', 'ü', 'g')
               || ' — テキスト№' || CAST(doc_id AS VARCHAR) AS t
        FROM documents
    ),
    synth AS (
        SELECT doc_id,
               '<p lang="mul">' || t
               || '</p><script>var s="多言語 skip";</script><ul><li>café&nbsp;бар</li></ul>'
               AS html
        FROM mb
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
           FROM s5),
    ext AS (
        SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS e FROM s6
    )
    SELECT doc_id,
           length(e) AS n_chars,
           strlen(e) AS n_bytes,
           len(string_split(e, ' ')) AS n_tokens,
           md5(e) AS fp,
           md5(lower(upper(e))) AS case_fp
    FROM ext ORDER BY doc_id
    """,
)
