"""Training-data curation operators: sequence packing and exact
stratified sampling.

Both are deterministic pure-DataFrame compositions (no Python, no
randomness source that differs across engines) so they are fully
SQL-oracle-able despite being 'sampling'/'packing' ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sdc_spark.operators import order as sorder


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str | Column,
    budget: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining layout:
    documents are concatenated in a canonical order and the stream is cut
    into fixed ``budget``-token windows).

    pack_id = floor(prefix_tokens / budget), offset = prefix_tokens mod
    budget, where prefix_tokens counts all tokens BEFORE this doc in
    ``id_col`` order. A doc whose span crosses a cut belongs to the pack
    it starts in (its ``spans_boundary`` flag marks the split for the
    loader). Prefix sums run on the distributed scan machinery
    (operators/order.py) — range partition + P-row offset broadcast, no
    single-partition pass.
    """
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    budget = int(budget)
    base = df.select(F.col(id_col).alias("doc"), t.cast("long").alias("__tok__"))
    scanned = sorder.scan(base, ["doc"], {"__cum__": ("sum", F.col("__tok__"))})
    # Pure long arithmetic (SQL `div`): double division + cast truncation is
    # inexact above 2^53 tokens and truncates toward zero for the cum-1 < 0
    # edge (zero-token doc at stream head). A zero-token doc never spans a
    # boundary, so the spans flag is explicitly gated on n_tokens > 0 —
    # start and cum-1 are then both non-negative and div == floor exactly.
    staged = scanned.select(
        "doc",
        F.col("__tok__").alias("n_tokens"),
        (F.col("__cum__") - F.col("__tok__")).alias("__start__"),
        "__cum__",
    )
    pack_id = F.expr(f"__start__ div {budget}")
    last_pack = F.expr(f"(__cum__ - 1) div {budget}")
    return staged.select(
        "doc",
        "n_tokens",
        pack_id.alias("pack_id"),
        (F.col("__start__") % F.lit(budget).cast("long")).alias("offset"),
        ((F.col("n_tokens") > 0) & (pack_id != last_pack)).alias("spans_boundary"),
    )


def curriculum_phases(
    df: DataFrame,
    order_cols,
    n_phases: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum assignment: order the corpus by ``order_cols`` (e.g.
    quality ascending — easy-to-hard curricula train low-noise-first) and
    cut it into ``n_phases`` count-balanced phases (ntile semantics:
    first ``N mod n`` phases get the extra row). Returns the input plus
    ``phase`` (1-based).

    ntile itself would funnel the corpus through ONE partition; this
    rides the distributed total-order machinery (order.with_position:
    range exchange + P-row broadcast offsets) so the global rank — and
    therefore the phase cut — never single-partitions. Assignment is
    exactly ntile's: phase = the unique p with cum_rows(p-1) <= pos <
    cum_rows(p), computed in closed form from the 0-based position.

    ``id_col`` is appended as the FINAL ordering key (when not already
    in ``order_cols``), so the global position — and therefore the phase
    cut — is a total order and deterministic even when ``order_cols``
    ties span a phase boundary."""
    if n_phases < 1:
        raise ValueError("curriculum_phases: n_phases must be >= 1")
    from sdc_spark.operators.order import with_position

    keys = list(order_cols)
    # membership test against STRING entries only: Column.__eq__ builds an
    # expression, so `id_col in keys` would raise on Column-typed keys
    if id_col not in [k for k in keys if isinstance(k, str)]:
        keys.append(id_col)
    pos = with_position(df, keys, "__pos__")
    n = pos.agg(F.count(F.lit(1)).alias("__n__"))
    # ntile closed form over 0-based pos: big phases (size q+1) come
    # first; q = n div k, r = n mod k
    out = pos.crossJoin(F.broadcast(n)).withColumn(
        "phase",
        F.when(
            F.col("__pos__")
            < (F.floor(F.col("__n__") / n_phases) + 1)
            * (F.col("__n__") % n_phases),
            F.floor(
                F.col("__pos__") / (F.floor(F.col("__n__") / n_phases) + 1)
            )
            + 1,
        )
        .otherwise(
            F.floor(
                (
                    F.col("__pos__")
                    - (F.floor(F.col("__n__") / n_phases) + 1)
                    * (F.col("__n__") % n_phases)
                )
                / F.greatest(
                    F.floor(F.col("__n__") / n_phases), F.lit(1)
                )
            )
            + (F.col("__n__") % n_phases)
            + 1
        )
        .cast("int"),
    )
    return out.drop("__pos__", "__n__")


def snake_sharding(
    df: DataFrame,
    weight_col: str,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weight-balanced shard assignment by boustrophedon (snake) order:
    rows sorted by weight DESC are dealt across shards left-to-right,
    then right-to-left, alternating — the classic deterministic greedy
    that keeps per-shard totals within one heavy item of each other
    (what a distributed training job needs so no data-parallel rank
    starves). Returns the input plus ``shard`` (0-based).

    Deterministic and exactly oracle-able: shard is a closed-form
    function of the global (weight desc, id) position — which rides
    order.with_position (range exchange + P-row broadcast), never a
    single-partition sort."""
    if n_shards < 1:
        raise ValueError("snake_sharding: n_shards must be >= 1")
    from sdc_spark.operators.order import with_position

    pos = with_position(
        df, [F.col(weight_col).desc(), F.col(id_col)], "__pos__"
    )
    rnd = F.floor(F.col("__pos__") / n_shards)
    within = F.col("__pos__") % n_shards
    shard = F.when(rnd % 2 == 0, within).otherwise(
        n_shards - 1 - within
    )
    return pos.withColumn("shard", shard.cast("int")).drop("__pos__")


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Exact deterministic stratified sample: n rows per stratum, chosen by
    rank over md5(id) — a uniform-but-reproducible order any engine can
    replicate (unlike Bernoulli sampleBy, which is approximate and
    RNG-dependent). One hash shuffle on the stratum key; per-stratum
    top-n via window rank (AQE handles skewed strata)."""
    w = W.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string").cast("binary")), F.col(id_col)
    )
    return (
        df.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= n_per_stratum)
        .drop("__rk__")
    )


def resample_to_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    target_weights: dict[str, float],
) -> DataFrame:
    """Deterministic importance resampling to a target source mix: each
    stratum s is downsampled with keep-probability
    ``p_s = min(1, (target_share_s / actual_share_s))`` so the kept corpus
    approaches the requested mix (strata already under-represented are
    kept whole — this operator never upsamples).

    The keep decision is a pure function of the row id: a row is kept when
    the first 8 hex digits of md5(id) fall below ``floor(p_s * 2^32)``
    (fixed-width hex strings compare like the underlying integers). That
    makes the sample reproducible across engines, partitionings, and
    retries — no RNG state — and SQL-oracle-able.

    Scale shape: actual shares are ONE tiny aggregate (one row per
    stratum) broadcast back; the filter itself is a row-local map. Total
    cost = one map-side-combined count + one broadcast-join scan; no
    shuffle of the corpus.
    """
    total_w = sum(target_weights.values())
    tw = F.create_map(
        *[
            x
            for k, v in sorted(target_weights.items())
            for x in (F.lit(k), F.lit(v / total_w))
        ]
    )
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n_s__"))
    totals = counts.agg(F.sum("__n_s__").alias("__n__"))
    shares = counts.join(F.broadcast(totals)).select(
        strata_col,
        F.least(
            F.lit(1.0),
            F.try_divide(
                tw[F.col(strata_col)],
                F.col("__n_s__").cast("double") / F.col("__n__"),
            ),
        ).alias("__p__"),
    )
    thresh = F.lpad(
        F.lower(F.hex(F.floor(F.col("__p__") * F.lit(4294967296.0)).cast("long"))),
        9,
        "0",
    )
    u = F.lpad(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8), 9, "0"
    )
    return (
        df.join(F.broadcast(shares), strata_col)
        .filter(u < thresh)
        .drop("__p__")
    )


def recipe_mix_tokens(
    df: DataFrame,
    text_col: str,
    id_col: str,
    strata_col: str,
    target_weights: dict[str, float],
    budget_frac: float = 0.5,
) -> DataFrame:
    """Token-budget data recipe ("data mixing" — the knob every training
    run is actually tuned by): keep a deterministic sample of each source
    so the KEPT corpus holds ~``budget_frac`` of the total tokens split
    across sources per ``target_weights``. Unlike ``resample_to_mix``
    (which targets DOCUMENT shares), the unit here is tokens — what the
    training budget is denominated in — so the per-source keep rate is
    ``p_s = min(1, w_s * B / tokens_s)`` with ``B = budget_frac * total
    tokens`` (sources whose corpus can't fill their target share are
    kept whole; this never upsamples).

    Keep decision is the same engine-portable device as resample_to_mix:
    a row is kept when the first 8 md5 hex digits of its id fall below
    ``floor(p_s * 2^32)`` — reproducible across engines, partitionings
    and retries, SQL-oracle-able. Scale shape: one map-side-combined
    token aggregate (one row per source) broadcast back; the keep filter
    is a row-local map — the corpus is scanned once, never shuffled."""
    from sdc_spark.functions.text import ws_token_count

    total_w = sum(target_weights.values())
    tw = F.create_map(
        *[
            x
            for k, v in sorted(target_weights.items())
            for x in (F.lit(k), F.lit(v / total_w))
        ]
    )
    toks = df.groupBy(strata_col).agg(
        F.sum(ws_token_count(F.col(text_col))).alias("__tok_s__")
    )
    totals = toks.agg(F.sum("__tok_s__").alias("__tok__"))
    rates = toks.join(F.broadcast(totals)).select(
        strata_col,
        F.least(
            F.lit(1.0),
            F.try_divide(
                tw[F.col(strata_col)]
                * F.col("__tok__").cast("double")
                * F.lit(budget_frac),
                F.col("__tok_s__").cast("double"),
            ),
        ).alias("__p__"),
    )
    thresh = F.lpad(
        F.lower(F.hex(F.floor(F.col("__p__") * F.lit(4294967296.0)).cast("long"))),
        9,
        "0",
    )
    u = F.lpad(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8), 9, "0"
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(u < thresh)
        .drop("__p__")
    )


def split_train_val_test(
    df: DataFrame,
    id_col: str,
    val_frac: float = 0.01,
    test_frac: float = 0.01,
) -> DataFrame:
    """Deterministic train/val/test assignment: the split of a row is a
    pure function of md5(id) (same engine-portable uniform device as
    resample_to_mix), so membership is stable across runs, engines, and
    data re-partitioning — the property that keeps eval sets honest when
    the corpus is rebuilt. Adds a ``split`` column; zero shuffle."""
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("long")
    scale = 4294967296.0
    t_val = int(val_frac * scale)
    t_test = int((val_frac + test_frac) * scale)
    return df.withColumn(
        "split",
        F.when(u < t_val, F.lit("val"))
        .when(u < t_test, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual/multi-source
    mixing rule: target share ∝ actual_share^alpha, alpha<1 flattens the
    distribution toward rare sources). Unlike resample_to_mix the target
    mix is DERIVED from the corpus itself — no hand-written weights.

    Keep probability: p_s = (w_s / share_s) / max_t(w_t / share_t), where
    w_s = share_s^alpha / Σ share^alpha — scaled so the most
    over-boosted stratum is kept whole (never upsamples). The keep
    decision is the same engine-portable md5-threshold device as
    resample_to_mix: reproducible across engines, partitionings, retries.

    Scale shape: two tiny aggregates (per-stratum counts, global max
    ratio — one row each per stratum / in total) broadcast back; the
    corpus itself is filtered row-locally, zero corpus shuffle."""
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n_s__"))
    tot = counts.agg(
        F.sum("__n_s__").alias("__n__"),
    )
    shares = counts.join(F.broadcast(tot)).select(
        strata_col,
        (F.col("__n_s__").cast("double") / F.col("__n__")).alias("__share__"),
    )
    wsum = shares.agg(F.sum(F.pow("__share__", F.lit(alpha))).alias("__wsum__"))
    ratios = shares.join(F.broadcast(wsum)).select(
        strata_col,
        (
            (F.pow("__share__", F.lit(alpha)) / F.col("__wsum__")) / F.col("__share__")
        ).alias("__r__"),
    )
    rmax = ratios.agg(F.max("__r__").alias("__rmax__"))
    probs = ratios.join(F.broadcast(rmax)).select(
        strata_col, (F.col("__r__") / F.col("__rmax__")).alias("__p__")
    )
    thresh = F.lpad(
        F.lower(F.hex(F.floor(F.col("__p__") * F.lit(4294967296.0)).cast("long"))),
        9,
        "0",
    )
    u = F.lpad(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8), 9, "0"
    )
    return df.join(F.broadcast(probs), strata_col).filter(u < thresh).drop("__p__")


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Exact weighted sampling WITHOUT replacement, k rows per group
    (Efraimidis–Spirakis A-ES): each row draws the deterministic uniform
    u = (md5_32(id)+1) / 2^32 and the k largest ln(u)/weight keys win —
    P(selection) proportional to weight, reproducible across engines and
    retries (no RNG state). One hash shuffle on the group key; per-group
    top-k via window rank (AQE splits skewed groups).

    At 100 TB this replaces driver-side reservoirs: the reservoir IS the
    per-group top-k, computed with partial aggregation semantics."""
    u32 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("long")
    # u in (0, 1]: +1 keeps ln() finite at u32 == 0
    key = F.log((u32 + 1) / F.lit(4294967296.0)) / F.col(weight_col)
    w = W.partitionBy(group_col).orderBy(key.desc(), F.col(id_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= k)
        .drop("__rk__")
    )


def sample_negatives(
    df: DataFrame,
    id_col: str,
    group_col: str,
    k: int = 4,
    n_buckets: int = 32,
    anchor_every: int = 50,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every
    anchor (id % anchor_every == 0) gets the k candidates from OUTSIDE its
    group that rank first by md5(anchor_id || cand_id) within the anchor's
    hash bucket.

    Scale shape: candidates are assigned to ``n_buckets`` md5-derived
    buckets; each anchor joins ONLY its own bucket, so the join fan-out is
    |anchors| x (n/n_buckets), never all-pairs — tune n_buckets so a
    bucket holds a few hundred candidates. The per-anchor top-k is a
    window rank over that bounded candidate set. Every step is a pure
    function of ids (md5 ranks, no RNG state), so the sample is
    reproducible across engines/partitionings and SQL-oracle-able.
    """
    id_s = F.col(id_col).cast("string")
    bucket = F.conv(F.substring(F.md5(id_s.cast("binary")), 1, 4), 16, 10).cast(
        "int"
    ) % n_buckets
    anchors = df.filter(F.col(id_col) % anchor_every == 0).select(
        F.col(id_col).alias("anchor_id"),
        F.col(group_col).alias("anchor_group"),
        bucket.alias("__b__"),
    )
    cands = df.select(
        F.col(id_col).alias("cand_id"),
        F.col(group_col).alias("cand_group"),
        bucket.alias("__b__"),
    )
    paired = anchors.join(cands, "__b__").filter(
        (F.col("cand_group") != F.col("anchor_group"))
        & (F.col("cand_id") != F.col("anchor_id"))
    )
    score = F.md5(
        F.concat_ws("|", F.col("anchor_id"), F.col("cand_id")).cast("binary")
    )
    w = W.partitionBy("anchor_id").orderBy(score, "cand_id")
    return (
        paired.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select("anchor_id", "cand_id", "neg_rank")
    )
