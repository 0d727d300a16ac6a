"""Distributed deduplication operators for training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup. All are
pure DataFrame compositions — hashing via xxhash64/md5 (JVM, codegen),
set-similarity via array expressions; no Python in the hot path.

Scale design (100 TB):
- exact: dedup on a 128-bit content hash, never on the raw text — the
  shuffle moves 16-byte keys + doc ids, not documents.
- MinHash+LSH: signatures are computed per-row with array expressions
  (no explode, no shuffle); only (band_hash → doc_id) pairs shuffle for
  bucketing. Bands/rows tuned so P(miss | J≥0.8) < 1e-7 at r=4, b=32.
  Candidate pairs are exact-verified with true Jaccard before reporting.
- n-gram inverted index: explodes distinct shingles; at web scale add
  frequency pruning (drop shingles with doc-freq above a cap) — the cap
  trades recall on boilerplate-heavy corpora; exposed as a parameter.
- SimHash: 64-bit signature via per-bit majority vote aggregated in one
  array expression; near-dup = hamming distance ≤ k within LSH buckets on
  signature chunks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sdc_spark.materialize import materialize as _materialize
from sdc_spark.materialize import materialize_lazy as _materialize_lazy
from sdc_spark.materialize import unmaterialize as _unmaterialize
from sdc_spark.operators.maintenance import (
    _drop,
    _log,
    _log_append,
    _replace,
    _save,
    index_lock,
    run_concurrently,
)
from sdc_spark.operators.scan import spread_scan


def normalized_text(col) -> Column:
    """Canonical text form for hashing: lowercase, collapsed whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: group on md5(normalized text), keep the lowest id
    (pandas drop_duplicates(keep='first') order semantics, made
    deterministic by min-id instead of encounter order — encounter order
    is not defined on a distributed table)."""
    h = F.md5(normalized_text(text_col).cast("binary")).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def word_ngrams(col, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text (the shingle set).

    PERFORMANCE: only use this inline form on pre-materialized short
    inputs. The lambda below captures ``toks`` as a sub-expression; if that
    sub-expression is the full normalize+split pipeline, Spark re-evaluates
    it per array element — O(tokens²) regex work per document. Pipelines
    must materialize tokens first (``with_grams``), which made shingling
    ~10x faster at sf0.1."""
    toks = F.split(normalized_text(col), " ")
    return ngrams_of_tokens(toks, n)


def ngrams_of_tokens(toks: Column, n: int = 3) -> Column:
    """n-gram set from a token array, built with chained zip_with: each
    shifted copy of the array is evaluated ONCE and then walked — unlike a
    transform-with-F.get lambda, where the captured array expression is
    re-evaluated per element (CollapseProject inlines any 'materialized'
    token column right back, so that form is O(tokens²) in regex work —
    observed 10x slowdown at sf0.1)."""
    grams = toks
    for j in range(1, n):
        # NB: slice's start+length must stay within int32 — a "huge length"
        # sentinel silently overflows and returns [] (observed)
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(1)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    k = F.size(toks) - (n - 1)
    # zip_with pads with null and concat_ws drops nulls → trim the bogus
    # short tail grams; short docs (< n tokens) → one joined gram
    full = F.slice(grams, 1, F.greatest(k, F.lit(0)))
    return F.array_distinct(
        F.when(k >= 1, full).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def with_grams(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id → doc, grams) with tokens materialized between the two stages so
    the normalize+split pipeline runs once per row, not once per element.
    The scan is spread to core-count parallelism first (spread_scan — a
    no-op on real multi-file corpora) so the shingle compute never runs
    single-task above a one-file input."""
    base = spread_scan(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__txt__")),
        "doc",
    )
    toks = base.select(
        "doc", F.split(normalized_text(F.col("__txt__")), " ").alias("__toks__")
    )
    return toks.select("doc", ngrams_of_tokens(F.col("__toks__"), n).alias("grams"))


def minhash_signature(grams: Column, num_hashes: int = 128) -> Column:
    """MinHash signature: hash each shingle string ONCE to a 64-bit base,
    then derive the hash family as xxhash64(base, seed) — re-hashing 8
    fixed bytes per seed instead of the whole string (~2x on real text).
    One array expression per row — no shuffle."""
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    base = F.transform(grams, lambda g: F.xxhash64(g))
    return F.transform(seeds, lambda s: F.array_min(F.transform(base, lambda h: F.xxhash64(h, s))))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays — an integer ratio, so
    the double result is bit-identical across engines."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))).cast("double")


def lsh_candidate_probability(jaccard_sim: float, bands: int, rows: int) -> float:
    """P(candidate | true Jaccard = j) for MinHash-LSH banding: a pair is
    a candidate when ANY band's ``rows`` signature slots all collide, so
    p = 1 - (1 - j^rows)^bands — the S-curve every banding choice trades
    along (steeper = better separation around the threshold)."""
    return 1.0 - (1.0 - jaccard_sim**rows) ** bands


def lsh_params_for_threshold(
    threshold: float, num_hashes: int = 128, max_miss: float = 1e-4
) -> tuple[int, int]:
    """Pick (bands, rows) for a target Jaccard threshold: among the
    divisor splits of ``num_hashes``, choose the steepest S-curve
    (largest ``rows``) whose miss probability AT the threshold stays
    under ``max_miss`` — misses are silent corpus pollution, so they get
    the hard bound, while false positives only cost verify-join work
    (every candidate is exact-verified downstream anyway).

    The registry default (128 hashes, 32x4 at t=0.8) is exactly what
    this returns: miss = (1 - 0.8^4)^32 ≈ 4e-8. A user retuning for
    t=0.5 gets a shallower split (more bands, fewer rows) instead of
    silently reusing the 0.8-tuned banding."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold={threshold}: need 0 < t < 1")
    best: tuple[int, int] | None = None
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        miss = (1.0 - threshold**rows) ** bands
        if miss <= max_miss:
            best = (bands, rows)  # divisors ascend in rows: keep steepest
    if best is None:
        raise ValueError(
            f"no (bands, rows) split of {num_hashes} hashes reaches "
            f"miss <= {max_miss} at threshold {threshold}; lower the "
            "threshold guarantee or raise num_hashes"
        )
    return best


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    ngram: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash → LSH banding → candidate pairs → exact-Jaccard verification.

    Returns (doc_a, doc_b, jac) for all pairs with true Jaccard ≥ threshold.
    With r=num_hashes/bands=4 rows per band, P(candidate | J) = 1-(1-J^4)^32:
    a J=0.8 pair is missed with p≈4e-8 — the verified output matches the
    exact all-pairs answer with overwhelming probability, at O(n·sig) +
    bucket-join cost instead of O(n²).

    ``max_bucket_size`` (default None = exact) drops (band, bhash)
    buckets holding more than that many docs before the candidate
    self-join — the band-side twin of ngram_jaccard_pairs' max_doc_freq:
    a cluster of D mutual near-dups puts all D docs in the SAME bucket
    in essentially every band, so the candidate join emits ~b·D²/2 rows
    for that cluster alone; at web scale one viral boilerplate page is a
    single-bucket quadratic bomb no shuffle strategy fixes (AQE skew
    split repartitions the join input, not its quadratic OUTPUT). The
    cap trades recall exactly on those giant clusters — the standard
    discipline is exact_dedup FIRST (collapsing identical docs to one
    representative), then near-dup with the cap as the safety net; pairs
    lost to the cap are intra-cluster pairs a downstream
    connected-components pass would have merged anyway."""
    docs = with_grams(df, text_col, id_col, ngram)

    # The hashed shingle index (doc, xxhash64(gram)) is materialized ONCE
    # (sdc_spark.materialize — mode-switchable localCheckpoint / persist /
    # checkpoint) and feeds all three consumers — signature, and both
    # sides of the verification join. Spark shares no subplan across join
    # inputs, so the un-materialized plan re-runs normalize+shingle 3x:
    # equal within noise at sf0.1 local (input is page-cached), but at
    # corpus scale that is two extra full scans of the raw text.
    base = (
        docs.select("doc", F.explode("grams").alias("g"))
        .select("doc", F.xxhash64("g").alias("h"))
        .transform(_materialize)
    )

    # Signature via the index → 128-column partial hash-aggregate: stays in
    # whole-stage codegen (the nested array-expression form falls back to
    # interpreted eval and is ~50x slower), and the shuffle carries one
    # 128-long partial state per (partition, doc). Each shingle string is
    # hashed ONCE; the 128-member family is derived from that 8-byte base
    # (xxhash64(h, seed)) — re-hashing the string per seed was ~2.5x
    # slower end-to-end at sf0.1. The family change is output-invariant:
    # candidates are exact-Jaccard verified. Expressions are built as
    # parsed SQL strings (_sig_agg_exprs) — the Column-object form cost
    # ~1s of py4j construction per call, the largest driver gap in every
    # minhash query's profile.
    sig = base.groupBy("doc").agg(*_sig_agg_exprs(num_hashes))

    # band hash directly over the numeric signature slice — no string concat
    banded = sig.selectExpr("doc", _band_explode_sql(num_hashes, bands)).selectExpr(
        "doc", "bh.band AS band", "bh.bhash AS bhash"
    )

    if max_bucket_size is not None:
        small = (
            banded.groupBy("band", "bhash")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band", "bhash")
        )
        banded = banded.join(small, ["band", "bhash"], "left_semi")

    left = banded.alias("l")
    right = banded.alias("r")
    # Candidate pairs are materialized so the verify side can PRUNE the
    # gram index by candidate docs without re-running the banding join:
    # the pair set is tiny (near-dup pairs, not the corpus), and both the
    # semi-join filter below and the final verify join read it.
    cands = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
        .transform(_materialize)
    )

    # exact verification on the hashed index: Jaccard over gram-hash sets
    # equals Jaccard over gram strings up to 64-bit collisions (≈ D²/2^65 —
    # immaterial), and the arrays shuffled to the verify join carry 8-byte
    # elements instead of word strings.
    #
    # The gram index is semi-join-pruned to candidate docs BEFORE the
    # collect_set aggregation: Catalyst cannot push the verify join below
    # the aggregate on its own, so without this every run pays a
    # full-corpus shuffle + collect_set even when banding yields few
    # candidates. No forced broadcast: the pair set is usually tiny (AQE
    # converts the semi join to broadcast at runtime) but a dup-heavy
    # corpus can legitimately produce a large one, and a forced broadcast
    # would OOM the driver exactly there.
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc"))
        .union(cands.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    hsets = (
        base.join(cand_docs, "doc", "left_semi")
        .groupBy("doc")
        .agg(F.collect_set("h").alias("hs"))
    )
    ga = hsets.select(F.col("doc").alias("doc_a"), F.col("hs").alias("ga"))
    gb = hsets.select(F.col("doc").alias("doc_b"), F.col("hs").alias("gb"))
    verified = (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("jac", jaccard(F.col("ga"), F.col("gb")))
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", "jac")
    )
    return verified


def _gram_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared inverted-index overlap machinery of Jaccard AND containment
    pair detection: (doc_a, doc_b, inter, sza, szb) for every doc pair
    sharing ≥1 (doc-freq-capped) shingle, where inter counts shared
    DISTINCT shingles and sza/szb are the full distinct-shingle set
    sizes. See ngram_jaccard_pairs for the cap semantics and scale
    notes."""
    docs = with_grams(df, text_col, id_col, ngram)
    # the index carries the 64-bit gram hash, not the gram string: the
    # self-join shuffles 8-byte keys instead of ~n·word-length strings
    # (collision odds for D distinct shingles ≈ D²/2^65 — immaterial, and
    # the exact-Jaccard formula is unchanged)
    inv = docs.select("doc", F.explode("grams").alias("g")).select(
        "doc", F.xxhash64("g").alias("gram")
    )
    # The index is materialized ONCE and feeds every consumer below
    # (doc-freq cap, both self-join sides, sizes): Spark shares no
    # subplan across join inputs, so the un-materialized plan re-ran
    # normalize+shingle+explode per consumer — scans=6 of the raw corpus
    # in one query (caught by the round-10 explain audit; at 100 TB that
    # is five extra full-text scans).
    inv = inv.transform(_materialize)
    if max_doc_freq is not None:
        freq = inv.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        capped = inv.join(freq.filter(F.col("df") <= max_doc_freq), "gram", "left_semi")
    else:
        capped = inv
    a = capped.alias("a")
    b = capped.alias("b")
    # inter is materialized so the |A|/|B| lookups can be pruned to
    # candidate docs without re-running the index self-join.
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .transform(_materialize)
    )
    # |A| recovered from the UNCAPPED index (grams are distinct per doc,
    # and the Jaccard denominator must count every gram) — semi-join-
    # pruned to candidate docs BEFORE the count aggregation, same
    # discipline as the minhash verify side: the aggregation state and
    # the verify join scale with the OUTPUT pairs, not the corpus.
    cand_docs = (
        inter.select(F.col("doc_a").alias("doc"))
        .union(inter.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    sizes = (
        inv.join(cand_docs, "doc", "left_semi")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("szb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    ngram: int = 3,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via an inverted shingle index:
    explode distinct shingles, self-join on shingle, count intersections,
    compute J = |∩| / (|A|+|B|−|∩|).

    ``max_doc_freq`` prunes shingles present in more than that many
    documents (boilerplate) — the standard web-scale mitigation for the
    quadratic blowup on hot shingles. The DEFAULT caps at 1000: a shingle
    in D docs contributes D²/2 index-join rows, so one boilerplate header
    shared by 10⁶ docs would alone emit 5·10¹¹ pairs; capped, the worst
    shingle costs 5·10⁵. Recall trade: a pair whose overlap lies ENTIRELY
    in pruned shingles is missed — for near-dup detection those pairs are
    boilerplate-only matches, which is usually the desired exclusion.
    Pass ``max_doc_freq=None`` explicitly for the exact quadratic run."""
    return (
        _gram_overlap_pairs(df, text_col, id_col, ngram, max_doc_freq)
        .withColumn(
            "jac",
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", "jac")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    ngram: int = 3,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact all-pairs n-gram CONTAINMENT (Broder 1997's other resemblance
    measure): C(A,B) = |A∩B| / |A|. Catches the near-superset duplicate
    class Jaccard structurally misses — a short document quoted whole
    inside a much longer one has containment ≈ 1 for the short side but
    Jaccard ≈ |short|/|long| ≈ 0, so a Jaccard-thresholded dedup keeps
    both (the quote-expansion / boilerplate-wrapping dups web pipelines
    flag by containment; e.g. CCNet-style near-dup audits).

    Emits (doc_a, doc_b, cont_a, cont_b, containment) for pairs whose
    MAX directional containment ≥ ``threshold`` — i.e. at least one side
    is mostly inside the other; consumers keep the longer side. Same
    inverted-index plan and ``max_doc_freq`` hot-shingle cap as
    ngram_jaccard_pairs (one scan, 8-byte keys, candidate-pruned size
    lookups)."""
    return (
        _gram_overlap_pairs(df, text_col, id_col, ngram, max_doc_freq)
        .withColumn(
            "cont_a", F.col("inter").cast("double") / F.col("sza").cast("double")
        )
        .withColumn(
            "cont_b", F.col("inter").cast("double") / F.col("szb").cast("double")
        )
        .withColumn("containment", F.greatest("cont_a", "cont_b"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "cont_a", "cont_b", "containment")
    )


def keep_best_in_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Survivor selection over near-dup clusters: connected components
    over ``pairs`` group the corpus into duplicate clusters; within each,
    the HIGHEST-``score_col`` member survives (ties → min id), everything
    else is marked for drop. This is the production keep rule — min-id
    survivors (exact_dedup's rule) are an arbitrary pick, while real
    pipelines keep the best-quality copy of each near-dup family and drop
    the mirrors/truncations around it.

    Returns (doc, rep, <score_col>, keep). Scale: component labels come
    from the diameter-independent star propagation; the argmax is a
    row_number window partitioned by cluster — state bounded by cluster
    size, never corpus size. Docs in no pair are their own singleton
    cluster and always survive."""
    from pyspark.sql.window import Window as W

    comp = dedup_components(pairs)
    labeled = (
        df.select(F.col(id_col).alias("doc"), F.col(score_col).alias("__s"))
        .join(comp, "doc", "left")
        .select(
            "doc", F.coalesce("component", F.col("doc")).alias("rep"), "__s"
        )
    )
    w = W.partitionBy("rep").orderBy(F.col("__s").desc(), F.col("doc"))
    return labeled.select(
        "doc",
        "rep",
        F.col("__s").alias(score_col),
        (F.row_number().over(w) == 1).alias("keep"),
    )


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 8, ngram: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: bucket by 16-bit signature chunks (a pair
    within hamming ≤ 3 of a 64-bit signature must agree on at least one of
    4 chunks — pigeonhole), verify hamming ≤ max_hamming via bit_count(xor)."""
    # explode → 64-column hash aggregate (codegen-friendly, same shape as
    # the minhash signature plan; shuffles one 64-long state per doc).
    # The shingle hash is materialized in a projection BEFORE the agg —
    # as a sub-expression of 64 separate aggregate functions it is not
    # CSE'd and the string would be hashed 64x per row. All wide
    # expression lists are built as parsed SQL strings (the Column-object
    # form cost ~2s of py4j construction per call — half this query's
    # wall time; same discipline as _sig_agg_exprs, values identical).
    votes = (
        with_grams(df, text_col, id_col, ngram)
        .select("doc", F.explode("grams").alias("g"))
        .select("doc", F.xxhash64("g").alias("h"))
        .groupBy("doc")
        .agg(
            *[
                F.expr(
                    f"sum(CASE WHEN (shiftrightunsigned(h, {b}) & 1) = 1 "
                    f"THEN 1 ELSE -1 END) AS v{b}"
                )
                for b in range(64)
            ]
        )
    )
    # bit 63's weight is long-min: shiftleft(1L, 63) — constant-folded to
    # the same literal the old F.lit(-(1 << 63)) produced (a bare
    # -9223372036854775808 literal would overflow the SQL parser's int
    # range before the unary minus applies)
    sig_sql = "CAST(0 AS BIGINT)" + "".join(
        " | CASE WHEN v%d > 0 THEN %s ELSE CAST(0 AS BIGINT) END"
        % (b, f"{1 << b}L" if b < 63 else "shiftleft(CAST(1 AS BIGINT), 63)")
        for b in range(64)
    )
    docs = votes.selectExpr("doc", f"({sig_sql}) AS sig")
    chunk_arr = ",".join(
        f"named_struct('chunk', {i}, 'ch', shiftrightunsigned(sig, {i * 16}) & 65535)"
        for i in range(4)
    )
    chunks = docs.selectExpr(
        "doc", "sig", f"explode(array({chunk_arr})) AS c"
    ).selectExpr("doc", "sig", "c.chunk AS chunk", "c.ch AS ch")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup with blocking: all-pairs *within a block*
    (label, cluster id, LSH bucket…) — the practical scale pattern that
    turns O(n²) into Σ O(block²). Cosine computed in double."""
    from sdc_spark.operators.similarity import dot, dot_fixed, norm

    # dim=None → zip_with/aggregate dot (measured faster than the unrolled
    # dot_fixed here: 64 unrolled gets per pair blow up codegen)
    pair_dot = (lambda x, y: dot_fixed(x, y, dim)) if dim else dot

    # precompute each vector's norm ONCE before the quadratic stage (norms
    # per pair triple the higher-order-function work); dot/(na*nb) keeps
    # the arithmetic identical to the naive formula, so results stay
    # bit-comparable with the oracle
    v = df.select(
        F.col(id_col).alias("vid"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    # Hot-key salting (guide §2.5): blocking keys are LOW-CARDINALITY by
    # design (labels, cluster ids), so a plain self-join on blk caps the
    # quadratic cosine stage's parallelism at n_blocks — profiled as ONE
    # 2.3 s task at bench scale (AQE coalesces the byte-light, CPU-heavy
    # stage), and at corpus scale one task per giant block, which AQE's
    # skew-split cannot divide (single key). The a-side is salted
    # DETERMINISTICALLY by vid (never rand() — retried map tasks must
    # reproduce the assignment, SPARK-38388); the (narrow) b-side
    # replicates across the salt space, so pair (a, b) is emitted exactly
    # once, at a's salt. Work per join key drops from O(block²) to
    # O(block² / S) for an S-fold replication of the b-side shuffle. The
    # explicit repartition pins REPARTITION_BY_NUM width (the r11
    # _pid_grouped mechanism) so byte-based coalescing cannot re-collapse
    # the stage.
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    s_salts = max(1, min(16, n_part))
    a = v.withColumn(
        "__sa__", F.pmod(F.xxhash64("vid"), F.lit(s_salts)).cast("int")
    ).repartition(n_part, "blk", "__sa__")
    b = v.withColumn(
        "__sa__", F.explode(F.array(*[F.lit(i) for i in range(s_salts)]))
    )
    a = a.alias("a")
    b = b.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.__sa__") == F.col("b.__sa__"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.blk").alias("block"),
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.try_divide(
                pair_dot(F.col("a.vec"), F.col("b.vec")), F.col("a.nrm") * F.col("b.nrm")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def dedup_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over duplicate pairs — the grouping step that
    turns pairwise near-dup hits into dedup clusters (keep min-id per
    component, drop the rest). Output (doc, component) with component =
    min node id in the component, deterministic; ids may be any
    orderable type (component = lexicographic min for strings).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm).
    Min-label propagation would need *diameter* rounds, and a 100-TB
    corpus produces chain-shaped components (temporally drifting near-dup
    chains, redirect chains) whose diameter is unbounded.
    Large-star/small-star halves tree heights every alternation and
    converges in O(log n) rounds regardless of diameter: large-star
    re-hangs every strictly-larger neighbor of each center onto the
    neighborhood minimum; small-star then flattens each center's smaller
    neighbors onto that minimum. Each half-round computes the per-center
    neighborhood minimum as a WINDOW over the center key (r12 — the
    groupBy+join form referenced the half-round frame twice, forcing an
    extra materialization per alternation; the window form is one linear
    pipeline, so a full alternation runs scan→window→distinct→window→
    distinct with ONE materialization and no joins) + distinct; edge
    multiplicity never exceeds the input edge count, so per-round cost is
    bounded by the (shrinking) edge set, not by node degree skew.
    Fixpoint = the star graph rooted at each component minimum, detected
    by a (count, hash-sum) checksum — one scalar agg per round."""
    from pyspark.sql import Window as _W

    # ONE materialized pass over `pairs` serves both the edge set and the
    # terminal node set (r12): `pairs` usually arrives UN-materialized
    # (minhash's verify subtree), and the old terminal
    # `pairs.select(a) ∪ pairs.select(b)` replayed that subtree twice
    # more inside the final job. Self-pairs (a == b) are kept in `base`
    # so isolated nodes survive into the node set; the loop filters them
    # out of the working edge set.
    base = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .distinct()
        .transform(_materialize)
    )
    edges = base.filter(F.col("u") != F.col("v"))
    wu = _W.partitionBy("u")
    prev = None
    converged = False
    for _ in range(max_iter):
        # large-star over the symmetric view: center c, m = min(N(c) ∪ {c});
        # emit (v, m) for every neighbor v > c (edges stay (hi, lo)-oriented)
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        ls = (
            sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: center u over its (all strictly smaller) neighbors N;
        # m = min(N); re-hang N \ {m} and u itself onto m. One explode
        # emits both (neighbor, m) and (center, m); the trailing distinct
        # collapses the duplicated center rows the join form kept unique.
        old_edges = edges
        edges = (
            ls.withColumn("m", F.min("v").over(wu))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("n"), F.col("m")),
                        F.struct(F.col("u").alias("n"), F.col("m")),
                    )
                ).alias("e")
            )
            .select("e.n", "e.m")
            .filter(F.col("n") != F.col("m"))
            .distinct()
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            # truncated every round: round N's plan embeds round N-1's, so
            # kept lineage would double Catalyst's analysis cost per round
            .transform(lambda df: _materialize_lazy(df, truncate=True))
        )
        # set fingerprint: edges are distinct, so count + bit_xor of row
        # hashes identifies the set (xor never overflows under ANSI mode).
        # The fingerprint action is ALSO the round's materializing job
        # (lazy checkpoint above) — one job per alternation, not two.
        row = edges.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        # persist-mode hygiene: this round's edge set is computed, so the
        # superseded round's blocks are never read again (ls is a linear
        # unmaterialized segment of this round's plan — nothing to free).
        # Round 1's `old_edges` is the unmaterialized filter view of
        # `base` — unmaterialize() no-ops on it; `base` itself stays
        # pinned for the terminal node set.
        _unmaterialize(old_edges)
        cur = (row["c"], row["h"])
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # a non-fixpoint edge set can still be multi-level (a node hung on
        # a non-minimum), i.e. labels would be WRONG, not merely stale —
        # fail loudly instead of returning them
        raise RuntimeError(
            f"dedup_components did not converge: the edge set did not reach "
            f"a fixpoint in {max_iter} alternations (expected O(log n)); "
            "raise max_iter — returning non-converged labels would mislabel "
            "components."
        )
    # node set from the MATERIALIZED base (self-pairs preserved isolated
    # nodes), not from `pairs` — the old union replayed the whole pair
    # subtree twice inside this final job
    nodes = (
        base.select(F.col("u").alias("doc"))
        .union(base.select(F.col("v").alias("doc")))
        .distinct()
    )
    return nodes.join(
        edges.select(F.col("u").alias("doc"), F.col("v").alias("component")),
        "doc",
        "left",
    ).select("doc", F.coalesce("component", F.col("doc")).alias("component"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 8,
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ANY
    ``ngram``-gram with a benchmark/eval set (the standard leakage guard a
    training pipeline runs before every dump release; e.g. GPT-3 appendix C
    / PaLM's 8-gram rule — public methodology).

    Plan shape at 100 TB: the benchmark side is tiny (eval sets are
    thousands of docs) — its DISTINCT 8-byte gram hashes broadcast; the
    corpus side explodes grams and left-semi joins, so the corpus is
    scanned once, nothing wider than (doc id, 8-byte hash) materializes,
    and no shuffle of document text ever happens. Output: one row per
    CONTAMINATED doc with the overlapping-gram count (consumers anti-join
    it against the corpus to drop or audit).
    """
    bt = bench_text_col or text_col
    bi = bench_id_col or id_col
    bench_grams = (
        with_grams(benchmark, bt, bi, ngram)
        .select(F.explode("grams").alias("g"))
        .select(F.xxhash64("g").alias("gram"))
        .distinct()
    )
    corpus_grams = with_grams(corpus, text_col, id_col, ngram).select(
        "doc", F.explode("grams").alias("g")
    ).select("doc", F.xxhash64("g").alias("gram"))
    hits = corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
    return hits.groupBy("doc").agg(F.count(F.lit(1)).alias("n_contaminated_grams"))


def _hashed_grams(
    df: DataFrame, text_col: str, id_col: str, ngram: int
) -> DataFrame:
    """(doc, h) 8-byte hashed shingles — the shared input of signatures
    AND exact-Jaccard verification (one scan feeds both when
    materialized)."""
    return (
        with_grams(df, text_col, id_col, ngram)
        .select("doc", F.explode("grams").alias("g"))
        .select("doc", F.xxhash64("g").alias("h"))
    )


def hashed_grams(
    df: DataFrame, text_col: str, id_col: str, ngram: int = 3
) -> DataFrame:
    """Public form of the shared (doc, h) hashed-shingle frame — the one
    input every LSH path (banding, verification, index writes) derives
    from. Callers that run MORE than one LSH operation over the same
    batch (the ingest loop screens then appends; the takedown query
    screens the same batch twice) should materialize this once and pass
    it via the operations' ``hashed_grams=`` parameter: un-shared, each
    operation re-runs the normalize+shingle+hash pass — one redundant
    full batch text scan per extra operation at corpus scale."""
    return _hashed_grams(df, text_col, id_col, ngram)


def _sig_agg_exprs(num_hashes: int) -> list:
    """The 128 signature aggregates as PARSED SQL strings. Building these
    as nested Column objects cost ~1s of driver time PER CALL (profiled:
    each F.min(F.xxhash64(...)).alias(...) is ~5 py4j round trips, times
    128 + 32x5 for the band structs — the 1.0-1.4s inter-job gaps in
    every minhash-family query). One F.expr per aggregate is one round
    trip + a JVM parse: construction drops ~1.0s → ~0.14s, and the
    analyzed plan is IDENTICAL (verified node-for-node modulo exprIds) —
    same hash family, same band hashes, same results."""
    return [F.expr(f"min(xxhash64(h, {i})) AS m{i}") for i in range(num_hashes)]


def _band_explode_sql(num_hashes: int, bands: int) -> str:
    """explode(array(named_struct(...)x bands)) band-hash projection as
    ONE SQL string (single py4j call; see _sig_agg_exprs)."""
    rows = num_hashes // bands
    arr = ",".join(
        "named_struct('band', %d, 'bhash', xxhash64(%s, %d))"
        % (b, ",".join(f"m{b * rows + j}" for j in range(rows)), b)
        for b in range(bands)
    )
    return f"explode(array({arr})) AS bh"


def _minhash_bands(base: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bhash) LSH bucket rows from a (doc, h) hashed-gram
    frame. The ONE definition of the signature family + band hashing —
    minhash_lsh_pairs, lsh_band_table, the in-session incremental screen
    and the persisted-index screen all call this, so a parquet index
    written by one run is joinable by any other."""
    sig = base.groupBy("doc").agg(*_sig_agg_exprs(num_hashes))
    return sig.selectExpr("doc", _band_explode_sql(num_hashes, bands)).selectExpr(
        "doc", "bh.band AS band", "bh.bhash AS bhash"
    )


def lsh_band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    ngram: int = 3,
) -> DataFrame:
    """Materializable LSH index: (band, bhash, doc) bucket rows for the
    corpus — the static side of streaming near-dup screening
    (streaming/dedup_join.streaming_near_dedup_against_index) and of any
    incremental re-dedup. Signature family and band hashing are identical
    to minhash_lsh_pairs, so indexes and ad-hoc runs agree."""
    return _minhash_bands(
        _hashed_grams(df, text_col, id_col, ngram), num_hashes, bands
    )


def gram_index(
    df: DataFrame, text_col: str, id_col: str, ngram: int = 3
) -> DataFrame:
    """Materializable verify-side index: DISTINCT (doc, h) hashed grams
    for the corpus — together with ``lsh_band_table`` this is the whole
    persisted state of incremental near-dedup (written as bucketed
    tables by ``write_lsh_index``; nothing wider than 16 bytes/row)."""
    return _hashed_grams(df, text_col, id_col, ngram).distinct()


def write_lsh_index(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    num_hashes: int = 128,
    bands: int = 32,
    ngram: int = 3,
    path_root: str = "/tmp/sdc_spark_lshidx",
    overwrite: bool = False,
) -> tuple[str, str]:
    """Persist the corpus near-dedup index as BUCKETED tables and return
    the (band_table, gram_table) names for ``spark.table``.

    Layout is the whole point: the band table is bucketed+sorted on
    (band, bhash) — exactly the band-join keys — and the gram table on
    doc — the verify-aggregation key — so every subsequent
    ``screen_against_index`` call reads the corpus side with NO Exchange:
    only the incoming batch is shuffled, which is the property that makes
    per-batch screening O(|batch|) at a 100-TB corpus (an unbucketed
    index re-shuffles the full corpus index on every batch). Writes are
    repartitioned onto the bucket columns first so each append lays down
    ~one file per bucket instead of tasks x buckets small files.

    Idempotent: existing tables are reused unless ``overwrite``. Appends
    go through ``append_lsh_index`` (same bucket spec, so the layout —
    and the zero-Exchange plan — survives index growth)."""
    bands_t = f"lsh_bands_{name}"
    grams_t = f"lsh_grams_{name}"
    have = spark.catalog.tableExists(bands_t) and spark.catalog.tableExists(grams_t)
    if have and not overwrite:
        return bands_t, grams_t
    # ONE hashed-gram scan feeds both tables (band signatures and the
    # verify-side gram set) — un-shared, the normalize+shingle+hash pass
    # over the corpus ran twice per index build, i.e. one redundant
    # full-text scan at 100 TB (minhash_lsh_pairs already shares this
    # scan; the write path now applies the same discipline).
    base = _hashed_grams(df, text_col, id_col, ngram).transform(_materialize)

    # the two table writes read the same materialized base and are
    # independent — overlap them so the second's tasks back-fill the
    # executors the first's commit tail leaves idle (guide §2.6)
    try:
        run_concurrently(
            lambda: _save(
                _minhash_bands(base, num_hashes, bands), bands_t, "overwrite",
                ("band", "bhash"), f"{path_root}/{name}/bands",
            ),
            lambda: _save(
                base.distinct(), grams_t, "overwrite", ("doc",),
                f"{path_root}/{name}/grams",
            ),
        )
    finally:
        # always release the materialized full-corpus hashed-gram blocks
        # — a write failure must not leak them for the session's lifetime
        _unmaterialize(base)
    return bands_t, grams_t


def append_lsh_index(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    num_hashes: int = 128,
    bands: int = 32,
    ngram: int = 3,
    path_root: str = "/tmp/sdc_spark_lshidx",
    hashed_grams: "DataFrame | None" = None,
) -> None:
    """Append one ingested batch's band+gram rows to a persisted index
    written by ``write_lsh_index`` — the index is never rewritten; the
    bucket spec matches the original so co-location is preserved and the
    append adds ~one file per bucket (repartition-first), not a
    small-files blizzard. Serialized against concurrent compaction via
    the index maintenance lock (operators/maintenance.py).

    ``hashed_grams``: a caller that already SCREENED the batch can pass
    the materialized ``hashed_grams()`` frame it screened with, so the
    normalize+shingle+hash pass over the batch text runs once per batch
    instead of once per operation (one redundant full batch scan saved
    at corpus scale). The frame must match (batch, text_col, id_col,
    ngram); ownership stays with the caller (not released here)."""
    own_base = hashed_grams is None
    with index_lock(f"{path_root}/{name}"):
        # same shared-scan discipline as write_lsh_index: one hashed-gram
        # pass over the batch feeds both appends — and the two appends
        # target different tables, so they overlap (guide §2.6)
        base = (
            _hashed_grams(batch, text_col, id_col, ngram).transform(_materialize)
            if own_base
            else hashed_grams
        )
        try:
            run_concurrently(
                lambda: _save(
                    _minhash_bands(base, num_hashes, bands),
                    f"lsh_bands_{name}", "append", ("band", "bhash"),
                ),
                lambda: _save(
                    base.distinct(), f"lsh_grams_{name}", "append", ("doc",)
                ),
            )
        finally:
            if own_base:
                _unmaterialize(base)


def compact_lsh_index(
    spark,
    name: str,
    path_root: str = "/tmp/sdc_spark_lshidx",
) -> None:
    """Compact a persisted index back to ~one file per bucket. Every
    append adds a file per bucket, so a year of batches decays scan
    latency (open/footer cost per file) even though the bucket layout —
    and the zero-Exchange screen plan — survives; schedule this like any
    LSM-ish maintenance. Pending tombstones (takedowns) are applied
    physically here and the log cleared; with none pending, contents are
    bit-identical before/after (pinned by test). Holds the index
    maintenance lock across the whole stage-then-replace window."""
    with index_lock(f"{path_root}/{name}"):
        tomb = lsh_tombstones(spark, name)
        bands = spark.read.parquet(f"{path_root}/{name}/bands")
        grams = spark.read.parquet(f"{path_root}/{name}/grams")
        if tomb is not None:
            bands = bands.join(tomb, "doc", "left_anti")
            grams = grams.join(tomb, "doc", "left_anti")
        # the two rewrites touch disjoint tables/paths and each stages
        # its content before dropping anything — overlap them (§2.6)
        run_concurrently(
            lambda: _replace(
                spark, f"lsh_bands_{name}", bands,
                f"{path_root}/{name}/bands", ("band", "bhash"),
            ),
            lambda: _replace(
                spark, f"lsh_grams_{name}", grams,
                f"{path_root}/{name}/grams", ("doc",),
            ),
        )
        if tomb is not None:
            _drop(spark, (f"lsh_dels_{name}",), f"{path_root}/{name}/tombstones")


def lsh_tombstones(spark, name: str) -> "DataFrame | None":
    """The LSH index's delete log: a (doc) frame of tombstoned corpus
    ids, or None when no takedown is pending. Pass it to
    ``screen_against_index(tombstones=...)``; ``compact_lsh_index``
    applies it physically and clears it."""
    return _log(spark, f"lsh_dels_{name}")


def delete_from_lsh_index(
    spark,
    doc_ids: DataFrame,
    name: str,
    path_root: str = "/tmp/sdc_spark_lshidx",
) -> None:
    """Remove documents from a persisted index (takedown/expiry — the
    compliance path every long-lived corpus index needs).

    The delete is a TOMBSTONE log: the id batch appends to a tiny
    ``lsh_dels_<name>`` side table — write cost O(|batch|); the band and
    gram tables are untouched. Screens exclude tombstoned docs at serve
    time (``screen_against_index`` anti-joins the log against the
    batch-sized candidate set, AFTER the zero-Exchange bucket join — so
    the filter costs nothing at corpus scale); physical deletion is
    amortized into ``compact_lsh_index``, after which the index is
    bit-identical to one built without those docs (the signature family
    is content-deterministic — pinned by test). No join-strategy hints:
    a bulk expiry's id set can be corpus-scale — AQE picks."""
    ids = doc_ids.select(F.col(doc_ids.columns[0]).alias("doc")).distinct()
    with index_lock(f"{path_root}/{name}"):
        prior = lsh_tombstones(spark, name)
        if prior is not None:
            ids = ids.join(prior, "doc", "left_anti")
        _log_append(
            spark,
            _materialize(ids, truncate=True),
            f"lsh_dels_{name}",
            f"{path_root}/{name}/tombstones",
        )


def drop_lsh_index(spark, name: str, path_root: str = "/tmp/sdc_spark_lshidx") -> None:
    """Drop a persisted index's tables and files (fresh-rebuild path)."""
    _drop(
        spark,
        (f"lsh_bands_{name}", f"lsh_grams_{name}", f"lsh_dels_{name}"),
        f"{path_root}/{name}",
    )


def incremental_near_dups(
    existing: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    ngram: int = 3,
) -> DataFrame:
    """Snapshot-incremental near-dedup: screen a NEW document batch against
    an EXISTING corpus without ever pairing the corpus against itself.

    This is the production shape of dedup at 100 TB: the corpus-side LSH
    band table and hashed-gram index are built once per snapshot
    (persist them between runs as BUCKETED tables — ``write_lsh_index``
    / ``append_lsh_index``, ``screen_against_index`` on reload) and
    each incoming batch pays only O(|batch| * sig) + one bucket join
    against the index (zero Exchange on the index side — it is bucketed
    on the join keys) + a verify aggregation semi-join-pruned to the
    candidates' grams. Re-running all-pairs dedup on corpus+batch would
    re-shuffle the full corpus per batch.

    Returns (corpus_doc, new_doc, jac) for cross pairs with exact Jaccard
    >= threshold — same 128/32x4 family as minhash_lsh_pairs, so the
    verified output matches the exact cross-pairs answer with miss
    probability ~4e-8 at J=0.8.
    """

    # one scan feeds bands AND verify on each side
    base_e = _hashed_grams(existing, text_col, id_col, ngram).transform(_materialize)
    band_e = _minhash_bands(base_e, num_hashes, bands)
    return screen_against_index(
        band_e,
        base_e,
        new,
        text_col,
        id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        ngram=ngram,
    )


def screen_against_index(
    band_index: DataFrame,
    gram_index_df: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    ngram: int = 3,
    tombstones: "DataFrame | None" = None,
    hashed_grams: "DataFrame | None" = None,
) -> DataFrame:
    """Screen a new batch against a MATERIALIZED corpus index — the loop
    body of persisted incremental dedup: ``band_index`` is a
    (doc, band, bhash) frame (``lsh_band_table`` output, typically
    ``spark.read.parquet`` of a prior snapshot's index) and
    ``gram_index_df`` a (doc, h) frame (``gram_index`` output). The
    corpus text is NEVER touched: candidates come from the band-bucket
    join, exact-Jaccard verification joins the candidates' gram sets
    from the index. num_hashes/bands/ngram must match the values the
    index was built with (the band hashes embed them).

    ``tombstones`` is the index's delete log (``lsh_tombstones``): a
    (doc) frame of corpus ids taken down since the last compaction.
    Tombstoned docs are excluded from the CANDIDATE set — after the
    zero-Exchange bucket join and before the verify aggregation, so the
    anti-join touches only the batch-sized candidate frame and the
    verify prune never loads a deleted doc's grams. No strategy hint:
    the log can be corpus-scale under bulk expiry; AQE picks.

    ``hashed_grams`` lets a caller that ALSO appends (or re-screens) the
    same batch share ONE materialized (doc, h) frame across operations
    (see ``hashed_grams()``); it must be the already-MATERIALIZED output
    of that function for the same (new, text_col, id_col, ngram), and
    the caller owns its release."""
    base_n = (
        hashed_grams
        if hashed_grams is not None
        else _hashed_grams(new, text_col, id_col, ngram).transform(_materialize)
    )
    band_n = _minhash_bands(base_n, num_hashes, bands)

    # Materialized so the verify-side semi-join prune below does not
    # re-run the band-bucket join; the candidate set is batch-sized.
    cands = (
        band_n.alias("n")
        .join(
            band_index.alias("e"),
            (F.col("n.band") == F.col("e.band"))
            & (F.col("n.bhash") == F.col("e.bhash")),
        )
        .select(F.col("e.doc").alias("corpus_doc"), F.col("n.doc").alias("new_doc"))
        .distinct()
    )
    if tombstones is not None:
        cands = cands.join(
            tombstones.select(F.col("doc").alias("corpus_doc")),
            "corpus_doc",
            "left_anti",
        )
    cands = cands.transform(_materialize)

    # Semi-join-prune the CORPUS gram index down to candidate docs BEFORE
    # the collect_set aggregation. Catalyst cannot push the verify join
    # below the aggregate, so the unpruned form re-aggregates the entire
    # 100-TB-corpus index on EVERY incremental batch; pruned, the batch
    # pays only O(|batch|·sig) + the bucket join + an aggregation over the
    # candidates' grams — the contract this operator's callers rely on.
    hs_e = (
        gram_index_df.join(
            cands.select(F.col("corpus_doc").alias("doc")).distinct(),
            "doc",
            "left_semi",
        )
        .groupBy("doc")
        .agg(F.collect_set("h").alias("ge"))
    )
    hs_n = (
        base_n.join(
            cands.select(F.col("new_doc").alias("doc")).distinct(),
            "doc",
            "left_semi",
        )
        .groupBy("doc")
        .agg(F.collect_set("h").alias("gn"))
    )
    return (
        cands.join(hs_e.select(F.col("doc").alias("corpus_doc"), "ge"), "corpus_doc")
        .join(hs_n.select(F.col("doc").alias("new_doc"), "gn"), "new_doc")
        .withColumn("jac", jaccard(F.col("ge"), F.col("gn")))
        .filter(F.col("jac") >= threshold)
        .select("corpus_doc", "new_doc", "jac")
    )


def content_defined_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 4,
    mask: int = 0x3F,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC idea applied to
    token streams — the chunk-level dedup primitive modern corpus
    pipelines use for LONG documents): a rolling hash over the last
    ``window`` tokens decides chunk boundaries, so an insertion early in
    a document shifts only the chunk it lands in — every downstream
    chunk re-synchronizes and its hash is UNCHANGED, which fixed-size
    chunking cannot do. Expected chunk length = mask+1 tokens.

    Engine-portable by construction (this is also the correctness
    oracle's job): token codes are md5-derived 20-bit ints (md5 exists
    bit-identically in Spark and DuckDB; no xxhash on the DuckDB side),
    the rolling hash is a base-131 polynomial over the window computed
    with lag() (the base must be ODD: with the original base 2^7 every
    lag term was a multiple of 128, so h % 64 collapsed to a
    single-token hash and the "window" never influenced boundaries;
    131 makes every term contribute mod mask+1) — max value
    < 2^20 * (131^window - 1)/130 < 2^63 for window <= 7, BIGINT-exact
    on both engines (guard below) —
    and the chunk index is a prefix sum of boundary flags. One shuffle
    (window partition by doc) + one per-doc aggregation; nothing wider
    than (doc, pos, 8-byte code) shuffles, so a 100-TB corpus streams
    through at scan speed.

    Output: (doc, chunk_idx, n_tokens, chunk_hash) — chunk_hash is an
    order-sensitive positional hash of the chunk's tokens (BIGINT sum
    of 40-bit md5 terms keyed by chunk-relative position), the key a
    cross-doc chunk dedup joins on. A positional SUM instead of
    md5(string_agg) keeps the aggregation state O(1) per chunk: a
    boundary-free pathological document (one chunk spanning 10M tokens)
    costs wall-clock serialization through one task, never executor
    memory — with a materialized token list it would buffer the whole
    document in one aggregation state.

    Skew note: the per-doc window needs only O(window) rows of lag
    state plus two running aggregates (Spark's WindowExec streams
    unbounded-preceding frames), so skew is the same profile as any
    per-doc aggregation."""
    from pyspark.sql import Window as W

    # base-131 polynomial over 20-bit codes: window > 7 would overflow
    # BIGINT (2^20 * (131^8 - 1)/130 > 2^63)
    if not 1 <= window <= 7:
        raise ValueError(
            f"window={window}: must be in [1, 7] (BIGINT-exact rolling hash)"
        )

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.filter(
                F.split(normalized_text(text_col), " "),
                lambda t: F.length(t) > 0,
            )
        ).alias("pos", "tok"),
    )
    # 20-bit md5-derived token code (conv(hex, 16, 10) == DuckDB's
    # ('0x' || hex)::BIGINT — the established cross-engine hash device)
    code = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 1048576
    )
    w = W.partitionBy("doc").orderBy("pos")
    coded = toks.withColumn("c", code)
    B = 131
    h = F.col("c")
    for j in range(1, window):
        h = h + F.coalesce(F.lag("c", j).over(w), F.lit(0)) * F.lit(B**j)
    flagged = coded.withColumn(
        "boundary",
        ((F.col("pos") >= window - 1) & (h % (mask + 1) == 0)).cast("int"),
    )
    # chunk index = boundaries strictly BEFORE this token (a boundary
    # token STARTS the next chunk's predecessor's end: the boundary token
    # is the last token of its chunk). The same unbounded-preceding frame
    # also yields the chunk's start position (most recent boundary + 1),
    # so chunk-relative position costs NO extra shuffle or sort.
    prev = W.partitionBy("doc").orderBy("pos").rowsBetween(
        W.unboundedPreceding, -1
    )
    chunked = flagged.withColumn(
        "chunk_idx", F.coalesce(F.sum("boundary").over(prev), F.lit(0))
    ).withColumn(
        "rel",
        F.col("pos")
        - F.coalesce(
            F.max(
                F.when(F.col("boundary") == 1, F.col("pos"))
            ).over(prev)
            + 1,
            F.lit(0),
        ),
    )
    # order-sensitive constant-state chunk hash: 40-bit md5 term per
    # (relative position, token), summed. Terms < 2^40, so BIGINT sum is
    # exact up to ~2^23 tokens per chunk — far past any real document.
    term = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("rel"), F.col("tok"))), 1, 10),
        16,
        10,
    ).cast("long")
    return (
        chunked.withColumn("hterm", term)
        .groupBy("doc", "chunk_idx")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("hterm").alias("chunk_hash"),
        )
    )


def _kgram_positions(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc, pos, h) for every char offset: the k-gram is hashed in the
    SAME projection that explodes positions, so only 24-byte triples
    ever leave the scan stage — never text."""
    base = spread_scan(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text")).filter(
            F.length("text") >= k
        ),
        "doc",
    )
    pos = base.select(
        "doc",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - k + 1)).alias("pos"),
    )
    return pos.select(
        "doc",
        F.col("pos").cast("long").alias("pos"),
        F.expr(f"xxhash64(substring(text, pos, {k}))").alias("h"),
    )


def kgram_positions(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Public form of the (doc, pos, h) per-offset k-gram hash stream —
    the shared input of every ExactSubstr operation. Callers that run
    MORE than one substring operation over the same batch (the ingest
    loop screens then appends) should materialize this once and pass it
    via the operations' ``kgram_positions=`` parameter: un-shared, each
    operation re-runs the per-character explode+hash pass over the
    batch text — the single most expensive batch-side stage."""
    return _kgram_positions(df, text_col, id_col, k)


def _merge_marked_positions(marked: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of marked window starts into maximal
    [span_start, span_end] char spans (1-based inclusive). Window
    partitions per doc — state bounded by one document's positions."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc").orderBy("pos")
    prev = F.lag("pos").over(w)
    flag = F.when(prev.isNull() | (F.col("pos") > prev + k), F.lit(1)).otherwise(
        F.lit(0)
    )
    islands = marked.withColumn("_new", flag).withColumn(
        "_isl", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc", "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            "doc",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def _cut_spans(base: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut every span out of (doc, text) and reassemble the remainder in
    order via one JVM higher-order ``aggregate`` over the per-doc sorted
    span array — no UDF, no per-segment explode. Docs without spans pass
    through the left join untouched."""
    sp = spans.groupBy("doc").agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_end"))).alias("sps"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("removed_chars"),
    )
    rebuilt = F.expr(
        "aggregate(sps,"
        " struct(cast(1 as bigint) as nxt, cast('' as string) as acc),"
        " (s, x) -> struct(x.span_end + 1 as nxt,"
        "   concat(s.acc, substring(text, s.nxt, x.span_start - s.nxt)) as acc),"
        " s -> concat(s.acc, substring(text, s.nxt, length(text) - s.nxt + 1)))"
    )
    return base.join(sp, "doc", "left").select(
        "doc",
        "text",
        F.when(F.col("sps").isNull(), F.col("text"))
        .otherwise(rebuilt)
        .alias("clean_text"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("removed_chars", F.lit(0)).alias("removed_chars"),
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    keep_first: bool = False,
) -> DataFrame:
    """Exact substring-level duplicate detection, the ExactSubstr
    operator of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): every maximal span of ≥ ``min_len``
    characters whose every ``min_len``-gram occurs at least twice in the
    WHOLE corpus (within- OR cross-document, exactly the paper's ≥2
    rule). Document-level and even passage-level dedup miss these —
    a license block pasted mid-document, a quoted paragraph, a
    templated boilerplate run — because the containing documents
    differ. (Reference parity anchor: the reference exposes only
    whole-string kernels, sdc/str_arr_type.py:84-111; substring-level
    corpus dedup is part of this repo's LLM-pipeline extension
    surface, like remove_duplicated_lines above.)

    The paper builds a single-machine suffix array; the distributed
    equivalent is position-level k-gram fingerprinting, which finds the
    IDENTICAL span set for fixed k = min_len: a character position lies
    in a duplicated span iff some k-gram covering a window starting at
    it repeats, and merging overlapping [pos, pos+k-1] windows
    reconstructs the maximal spans.

    Plan shape at 100 TB: one corpus scan explodes positions and hashes
    the k-gram IN THE SAME projection — only (doc, pos, 8-byte hash)
    triples ever shuffle, never text (~24 bytes/char; the honest cost of
    exact-substring semantics distributed — the suffix array pays the
    same O(N) positions on one machine, which 100 TB does not fit).
    The triple stream is materialized ONCE and feeds both consumers
    (the dup-hash aggregation and the mark join); the ≥2 filter sits on
    a map-side-combinable count; marking is a left_semi join AQE
    broadcasts when the dup set is small; span merge is a per-doc
    gaps-and-islands window whose partition is bounded by a single
    document's duplicated positions.

    ``keep_first=False`` (default) marks EVERY occurrence of a
    duplicated gram — the span map / aggressive-cut view.
    ``keep_first=True`` is the paper's retention rule at gram
    granularity: the globally-first occurrence of each duplicated gram
    (min (doc, pos), a deterministic total order — not encounter order)
    stays unmarked, so one canonical copy of every duplicated substring
    survives the rewrite. The argmin rides the SAME single hash
    aggregation as the ≥2 count (min over a (doc, pos) struct), so the
    mode costs one extra broadcast column, not a second pass.

    Output: (doc, span_start, span_end, span_len) — 1-based inclusive
    character coordinates, BIGINT, one row per maximal span."""
    k = int(min_len)
    if k < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    grams = _kgram_positions(df, text_col, id_col, k).transform(_materialize)
    # the argmin column is only aggregated when the mode needs it — its
    # 16 bytes/hash of agg state are pure waste for the drop-all view
    aggs = [F.count(F.lit(1)).alias("n")]
    if keep_first:
        aggs.append(F.min(F.struct("doc", "pos")).alias("first"))
    dup = grams.groupBy("h").agg(*aggs).filter(F.col("n") >= 2)
    if keep_first:
        marked = (
            grams.join(dup.select("h", "first"), "h")
            .filter(
                (F.col("doc") != F.col("first.doc"))
                | (F.col("pos") != F.col("first.pos"))
            )
            .select("doc", "pos")
        )
    else:
        marked = grams.join(dup.select("h"), "h", "left_semi")
    return _merge_marked_positions(marked, k)


def substring_dedup_rewrite(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    keep_first: bool = False,
) -> DataFrame:
    """Substring dedup rewrite: cut every maximal duplicated span found
    by :func:`repeated_substring_spans` out of every document and
    reassemble the remainder in order. ``keep_first=False`` is the
    aggressive all-occurrence cut (conservative when the canonical
    copy's provenance is kept elsewhere); ``keep_first=True`` is the
    Lee et al. retention rule — the globally-first copy of each
    duplicated substring survives. Both are deterministic under any
    corpus partitioning (the "first" is an argmin over (doc, pos), not
    encounter order).

    The reassembly is a single JVM higher-order ``aggregate`` over the
    per-doc sorted span array — no UDF, no per-segment explode: state is
    (next uncut position, accumulated text), each span appends the gap
    before it, the finisher appends the tail. Documents without spans
    pass through the left join untouched.

    Output: (doc, text, clean_text, n_spans, removed_chars) with
    length(clean_text) = length(text) - removed_chars by construction."""
    spans = repeated_substring_spans(df, text_col, id_col, min_len, keep_first)
    base = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text"))
    return _cut_spans(base, spans)


def substring_contamination_spans(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    bench_text_col: str,
    min_len: int = 50,
) -> DataFrame:
    """Span-precise benchmark decontamination detection: every maximal
    corpus span of ≥ ``min_len`` chars that appears verbatim ANYWHERE in
    the held-out benchmark set (Lee et al. 2022 §5 apply exactly this to
    test-set overlap; GPT-3's appendix documents the same class of
    leak). The 8-gram token decontamination (`decontaminate_against`)
    DROPS whole documents on any overlap; this is the surgical variant —
    it localizes the leaked chars so the rewrite can cut them and keep
    the rest of the document.

    Plan shape at 100 TB: the corpus side is the same single-scan
    (doc, pos, 8-byte hash) stream as ``repeated_substring_spans``; the
    benchmark side reduces to a DISTINCT hash set (benchmarks are tiny
    next to the corpus, so the set broadcasts and the mark join is
    map-side — zero shuffle of corpus positions); spans merge per doc.

    Output: (doc, span_start, span_end, span_len), 1-based inclusive."""
    k = int(min_len)
    if k < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    grams = _kgram_positions(corpus, text_col, id_col, k)
    bench_h = (
        _kgram_positions(
            bench.select(F.col(bench_text_col).alias("_bt")), "_bt", "_bt", k
        )
        .select("h")
        .distinct()
    )
    marked = grams.join(bench_h, "h", "left_semi")
    return _merge_marked_positions(marked, k)


def substring_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    bench_text_col: str,
    min_len: int = 50,
) -> DataFrame:
    """Surgical benchmark decontamination: cut every contaminated span
    found by :func:`substring_contamination_spans` and reassemble the
    remainder — documents keep everything except the verbatim leaked
    passages (vs the drop-the-document 8-gram gate, which discards an
    entire crawl page over one quoted benchmark question).

    Output: (doc, text, clean_text, n_spans, removed_chars)."""
    spans = substring_contamination_spans(
        corpus, bench, text_col, id_col, bench_text_col, min_len
    )
    base = corpus.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text"))
    return _cut_spans(base, spans)


def write_substring_index(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    min_len: int = 50,
    path_root: str = "/tmp/sdc_spark_subidx",
    overwrite: bool = False,
) -> str:
    """Persist the corpus's COUNTED ``min_len``-gram hash multiset —
    (h, cnt) rows, cnt = total occurrences — as a BUCKETED table (on
    ``h``, the screen-join key) and return the table name. This is the
    whole persisted state of INCREMENTAL exact substring dedup: a batch
    position is duplicated in corpus ∪ batch iff its gram hash is in
    this set OR repeats within the batch, so membership (16 bytes per
    distinct gram) is sufficient — no doc ids, no positions, no text.
    The counts exist ONLY for takedown bookkeeping
    (``delete_from_substring_index`` logs negative counts; a gram dies
    when its net count reaches zero) — screens never aggregate them.
    Bucketing means every subsequent
    ``screen_substrings_against_index`` reads the corpus side with NO
    Exchange; only the incoming batch shuffles — per-batch screening is
    O(|batch|) at a 100-TB corpus. Same layout discipline as
    ``write_lsh_index`` above (repartition-first ⇒ ~one file per
    bucket)."""
    table = f"sub_grams_{name}"
    if spark.catalog.tableExists(table) and not overwrite:
        return table
    _save(
        _kgram_positions(df, text_col, id_col, int(min_len))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt")),
        table,
        "overwrite",
        ("h",),
        f"{path_root}/{name}/grams",
    )
    return table


def append_substring_index(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    min_len: int = 50,
    path_root: str = "/tmp/sdc_spark_subidx",
    kgram_positions: "DataFrame | None" = None,
) -> None:
    """Append one ingested batch's (h, cnt) gram counts under the same
    bucket spec (co-location — and the zero-Exchange screen plan —
    survives growth; ~one new file per bucket per append). Hashes the
    corpus already holds are appended again rather than merged: extra
    rows cannot change a membership semi-join (and counts are summed
    wherever they matter), while merging would cost a full index
    rewrite per batch — ``compact_substring_index`` merges them during
    scheduled maintenance instead. Serialized against concurrent
    compaction via the index maintenance lock.

    ``kgram_positions``: a caller that already SCREENED the batch can
    pass the materialized ``kgram_positions()`` frame it screened with,
    so the per-character explode+hash pass over the batch text runs
    once per batch instead of once per operation. Must match
    (batch, text_col, id_col, min_len); caller owns its release."""
    src = (
        kgram_positions
        if kgram_positions is not None
        else _kgram_positions(batch, text_col, id_col, int(min_len))
    )
    with index_lock(f"{path_root}/{name}"):
        _save(
            src.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")),
            f"sub_grams_{name}",
            "append",
            ("h",),
        )


def compact_substring_index(
    spark,
    name: str,
    path_root: str = "/tmp/sdc_spark_subidx",
) -> None:
    """Compact back to ~one file per bucket AND merge cross-append rows
    into one (h, cnt) row per gram (summed counts). Pending takedowns
    (``delete_from_substring_index``'s negative-count log) are applied
    physically here — net-zero grams drop out — and the delete-side
    tables are cleared. Same staged-rewrite discipline as
    ``compact_lsh_index`` — raw-path read, eager materialization before
    the old files are deleted. Holds the index maintenance lock across
    the stage-then-replace window."""
    with index_lock(f"{path_root}/{name}"):
        merged = (
            spark.read.parquet(f"{path_root}/{name}/grams")
            .groupBy("h")
            .agg(F.sum("cnt").alias("cnt"))
        )
        dels = _log(spark, f"sub_dels_{name}")
        if dels is not None:
            lognet = dels.groupBy("h").agg(F.sum("cnt").alias("dcnt"))
            merged = (
                merged.join(lognet, "h", "left")
                .select(
                    "h",
                    (F.col("cnt") + F.coalesce(F.col("dcnt"), F.lit(0))).alias(
                        "cnt"
                    ),
                )
                .filter(F.col("cnt") > 0)
            )
        _replace(
            spark, f"sub_grams_{name}", merged, f"{path_root}/{name}/grams", ("h",)
        )
        if dels is not None:
            for sub in ("dels", "dead", "deldocs"):
                _drop(spark, (f"sub_{sub}_{name}",), f"{path_root}/{name}/{sub}")


def delete_from_substring_index(
    spark,
    removed_docs: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    min_len: int = 50,
    path_root: str = "/tmp/sdc_spark_subidx",
) -> None:
    """Takedown for the persisted ExactSubstr index. The index stores no
    doc ids — only (h, cnt) gram counts — so removal is COUNT
    SUBTRACTION: the removed documents' text (the caller has it; a
    takedown names docs in the corpus snapshot) is re-grammed, the
    negative per-gram counts append to a ``sub_dels_<name>`` log
    (write O(|batch|); the multi-TB gram table is untouched), and the
    DEAD set — grams whose net count hits zero, i.e. grams that existed
    ONLY in removed docs — is refreshed into a tiny ``sub_dead_<name>``
    table that every screen anti-joins. Grams the removed docs shared
    with surviving text keep net > 0 and stay members, which is exactly
    ExactSubstr's semantics over the surviving corpus.

    Cost: one read over the gram table restricted to the log's suspect
    hashes (to re-derive net counts), O(|batch| + |log|) writes —
    never an index rewrite; that is amortized into
    ``compact_substring_index``. Contract (same as the LSH/posting
    takedowns): docs passed here must currently be IN the index, each
    at most once — a ``sub_deldocs_<name>`` id log makes re-deletes
    no-ops."""
    with index_lock(f"{path_root}/{name}"):
        deldocs_t = f"sub_deldocs_{name}"
        ids = removed_docs.select(F.col(id_col).alias("doc")).distinct()
        prior = _log(spark, deldocs_t)
        if prior is not None:
            ids = ids.join(prior, "doc", "left_anti")
        fresh_ids = _materialize(ids, truncate=True)
        batch = removed_docs.join(
            fresh_ids.select(F.col("doc").alias(id_col)), id_col, "left_semi"
        )
        negs = (
            _kgram_positions(batch, text_col, id_col, int(min_len))
            .groupBy("h")
            .agg((-F.count(F.lit(1))).alias("cnt"))
        )
        dels_t = f"sub_dels_{name}"
        _log_append(spark, negs, dels_t, f"{path_root}/{name}/dels")
        _log_append(spark, fresh_ids, deldocs_t, f"{path_root}/{name}/deldocs")
        # refresh the dead set from net counts over the log's suspect hashes
        # (the gram-table read is semi-join-pruned to those hashes; no hint —
        # a bulk expiry's suspect set can be large, AQE picks)
        lognet = spark.table(dels_t).groupBy("h").agg(F.sum("cnt").alias("dcnt"))
        base = (
            spark.table(f"sub_grams_{name}")
            .join(lognet.select("h"), "h", "left_semi")
            .groupBy("h")
            .agg(F.sum("cnt").alias("bcnt"))
        )
        dead = (
            base.join(lognet, "h")
            .filter(F.col("bcnt") + F.col("dcnt") <= 0)
            .select("h")
        )
        _replace(spark, f"sub_dead_{name}", dead, f"{path_root}/{name}/dead")


def substring_membership(spark, name: str) -> DataFrame:
    """The index's live gram-hash membership set — the (h) frame both
    the batch screen and the streaming gate join against: every hash in
    the gram table minus the dead set (grams whose net count reached
    zero through takedowns). With no takedowns pending this is exactly
    the raw table's hash column (duplicates across appends are harmless
    to membership joins)."""
    member = spark.table(f"sub_grams_{name}").select("h")
    dead = _log(spark, f"sub_dead_{name}")
    if dead is not None:
        member = member.join(dead, "h", "left_anti")
    return member


def drop_substring_index(
    spark, name: str, path_root: str = "/tmp/sdc_spark_subidx"
) -> None:
    """Drop a persisted substring index's tables and files."""
    _drop(
        spark,
        [f"sub_{t}_{name}" for t in ("grams", "dels", "dead", "deldocs")],
        f"{path_root}/{name}",
    )


def screen_substrings_against_index(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    min_len: int = 50,
    kgram_positions: "DataFrame | None" = None,
) -> DataFrame:
    """Incremental ExactSubstr screen: maximal duplicated spans of the
    BATCH documents against corpus ∪ batch, using only the persisted
    gram-hash set — EXACTLY equal to running
    :func:`repeated_substring_spans` over the whole corpus ∪ batch and
    keeping the batch docs' rows. The equivalence is algebraic, not
    approximate: a batch position's gram occurs ≥2 times in
    corpus ∪ batch iff it is IN the corpus set (≥1 there, ≥1 here) OR
    occurs ≥2 times within the batch — the two marks unioned below.

    Plan shape: the batch's (doc, pos, h) stream is materialized once
    and feeds both marks; the index side is a bucketed-on-h table scan
    with no Exchange; the within-batch ≥2 count aggregates only batch
    hashes. The screen never touches corpus text — the 100-TB corpus
    participates as 8-byte hashes only.

    Output: (doc, span_start, span_end, span_len) for batch docs.

    ``kgram_positions``: a caller that ALSO appends the same batch can
    pass ONE materialized ``kgram_positions()`` frame shared across the
    operations (must match (batch, text_col, id_col, min_len); caller
    owns its release)."""
    k = int(min_len)
    grams = (
        kgram_positions
        if kgram_positions is not None
        else _kgram_positions(batch, text_col, id_col, k).transform(_materialize)
    )
    batch_dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    # membership = raw hash column minus the (tiny) takedown dead set;
    # screens never aggregate the counts — the semi-join below still
    # reads the bucketed table in place with no Exchange
    idx = substring_membership(spark, name)
    marked = (
        grams.join(idx, "h", "left_semi")
        .unionByName(grams.join(batch_dup, "h", "left_semi"))
        .select("doc", "pos")
        .distinct()
    )
    return _merge_marked_positions(marked, k)


def remove_duplicated_lines(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """C4-style cross-document LINE dedup (the published C4 pipeline
    discards every repeated occurrence of a line across the corpus —
    boilerplate navigation, cookie banners, license headers survive
    DOCUMENT-level dedup because the documents differ, but their shared
    lines shouldn't reach training): keep each distinct non-blank line
    only at its FIRST corpus occurrence (min (doc, position), ties by
    doc id — deterministic, not encounter order), drop every other
    occurrence, and reassemble each document from its surviving lines in
    original order.

    Plan shape at 100 TB: posexplode lines → ONE hash aggregation on the
    8-byte line hash computing the global argmin occurrence → hash-join
    the line stream back on the hash → filter + per-doc ordered
    reassembly (array_sort over collect_list of (pos, line) structs —
    state bounded by the document's own line count, the same profile as
    any per-doc aggregation). Nothing wider than (doc, pos, 8-byte
    hash) shuffles besides the surviving lines themselves.

    Output: (doc, text, n_lines_kept, n_lines_dropped) — documents whose
    every line was dropped keep an empty text rather than disappearing
    (downstream length filters decide their fate, not the dedup)."""
    lines = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).filter(F.trim("line") != "")
    hashed = lines.withColumn("h", F.xxhash64(F.col("line")))
    first = hashed.groupBy("h").agg(
        F.min(F.struct("doc", "pos")).alias("first")
    )
    tagged = hashed.join(first, "h").withColumn(
        "keep",
        (F.col("doc") == F.col("first.doc")) & (F.col("pos") == F.col("first.pos")),
    )
    return (
        tagged.groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text"),
            F.sum(F.col("keep").cast("int")).alias("n_lines_kept"),
            F.sum((~F.col("keep")).cast("int")).alias("n_lines_dropped"),
        )
    )
