"""Round-4 relational additions: overlapping-interval merge
(gaps-and-islands over variable-length spans), fixed-bin `series.cut`,
and the split/element/join string surface.

All three are fully DuckDB-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sdc_spark.frame.series import IDX, VAL, SparkSeries
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table


@query("interval_merge_overlaps")
def interval_merge_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user time intervals (gaps-and-islands with
    VARIABLE interval lengths — unlike gap sessionization, a row can be
    swallowed by an earlier long interval, so the island test is
    `start > running_max(end)` not `gap > threshold`).

    Interval i = [ts, ts + clamp(value,1..60) minutes), all arithmetic in
    epoch microseconds (pure longs — bit-identical across engines).

    Scale shape: one hash shuffle on user_id; both the running max and the
    island sum are single-pass window scans within each user's partition.
    Users are numerous (~n_events/20) so partitions stay balanced."""
    ev = read_table(spark, sf_dir, "events")
    span_us = (
        F.round(F.least(F.greatest(F.col("value"), F.lit(1.0)), F.lit(60.0)) * 60)
        .cast("long")
        * 1_000_000
    )
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id",
        "event_id",
        ts_us.alias("start_us"),
        (ts_us + span_us).alias("end_us"),
    )
    order = W.partitionBy("user_id").orderBy("start_us", "event_id")
    prior = order.rowsBetween(W.unboundedPreceding, -1)
    prior_max = F.max("end_us").over(prior)
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prior_max.isNull() | (F.col("start_us") > prior_max), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(order.rowsBetween(W.unboundedPreceding, 0)),
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("start_us").alias("merged_start_us"),
        F.max("end_us").alias("merged_end_us"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


oracle(
    "interval_merge_overlaps",
    """
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
               epoch_us(CAST(ts AS TIMESTAMP))
                 + CAST(round(least(greatest(value, 1.0), 60.0) * 60) AS BIGINT)
                   * 1000000 AS end_us
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, start_us, end_us,
               CASE WHEN max(end_us) OVER w IS NULL THEN 1
                    WHEN start_us > max(end_us) OVER w THEN 1
                    ELSE 0 END AS new_island
        FROM iv
        WINDOW w AS (PARTITION BY user_id ORDER BY start_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), islands AS (
        SELECT user_id, start_us, end_us,
               CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY start_us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS island
        FROM flagged
    )
    SELECT user_id, island,
           min(start_us) AS merged_start_us,
           max(end_us) AS merged_end_us,
           count(*) AS n_intervals
    FROM islands GROUP BY 1, 2
    """,
)


@query("series_cut_bins")
def series_cut_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series.cut(bins) — fixed-boundary binning of order totals
    (left-open right-closed, pandas default), then per-bin profile."""
    ord_ = read_table(spark, sf_dir, "orders")
    s = SparkSeries.from_column(ord_, "o_totalprice", index_col="o_orderkey")
    bins = [0.0, 50_000.0, 150_000.0, 300_000.0, 1e9]
    binned = s.cut(bins, labels=["xs", "s", "m", "l"])
    joined = ord_.select("o_orderkey", "o_totalprice").join(
        binned._df.select(F.col(IDX).alias("o_orderkey"), F.col(VAL).alias("bin")),
        "o_orderkey",
    )
    return joined.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


oracle(
    "series_cut_bins",
    """
    WITH b AS (
        SELECT o_totalprice,
               CASE WHEN o_totalprice > 0 AND o_totalprice <= 50000 THEN 'xs'
                    WHEN o_totalprice > 50000 AND o_totalprice <= 150000 THEN 's'
                    WHEN o_totalprice > 150000 AND o_totalprice <= 300000 THEN 'm'
                    WHEN o_totalprice > 300000 AND o_totalprice <= 1e9 THEN 'l'
               END AS bin
        FROM orders
    )
    SELECT bin, count(*) AS n,
           round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
    FROM b GROUP BY bin
    """,
)


@query("str_split_join")
def str_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-string surface split/getitem/join (ref sdc/str_ext.py:
    125-214,261-276 — split, join inside JIT): split customer names on
    '#', reverse-join with '-', take the last fragment, aggregate."""
    cust = read_table(spark, sf_dir, "customer")
    parts = F.split(F.col("c_name"), "#")
    out = cust.select(
        "c_custkey",
        F.array_join(F.reverse(parts), "-").alias("rejoined"),
        F.element_at(parts, -1).alias("suffix"),
    )
    return out.groupBy(F.substring("suffix", 1, 3).alias("sfx3")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("rejoined").alias("first_rejoined"),
    )


oracle(
    "str_split_join",
    """
    WITH s AS (
        SELECT c_custkey,
               array_to_string(list_reverse(string_split(c_name, '#')), '-') AS rejoined,
               list_extract(string_split(c_name, '#'),
                            len(string_split(c_name, '#'))) AS suffix
        FROM customer
    )
    SELECT substring(suffix, 1, 3) AS sfx3,
           count(*) AS n, min(rejoined) AS first_rejoined
    FROM s GROUP BY 1
    """,
)


@query("events_anomaly_mad")
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: flag values more than 3
    scaled-MADs from the group median (median absolute deviation — the
    robust z-score used when means/stddevs are poisoned by the outliers
    themselves).

    Scale shape: two tiny per-group aggregates (median, then MAD of
    residuals — exact percentiles via one shuffle each on the group key)
    broadcast back onto the scan; the flagging pass is row-local. No
    window over the full data."""
    ev = read_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    withmed = ev.join(F.broadcast(med), "event_type")
    mad = (
        withmed.groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    scored = withmed.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "event_id",
        F.round(
            F.try_divide(F.abs(F.col("value") - F.col("med")), F.lit(1.4826) * F.col("mad")),
            4,
        ).alias("robust_z"),
    )
    return (
        scored.filter(F.col("robust_z") > 3.0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.round(F.max("robust_z"), 4).alias("max_z"),
            F.min("event_id").alias("first_outlier_id"),
        )
    )


oracle(
    "events_anomaly_mad",
    """
    WITH med AS (
        SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), mad AS (
        SELECT e.event_type, median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m USING (event_type) GROUP BY 1
    ), scored AS (
        SELECT e.event_type, e.event_id,
               round(abs(e.value - m.med) / (1.4826 * d.mad), 4) AS robust_z
        FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
        WHERE d.mad > 0
    )
    SELECT event_type, count(*) AS n_outliers,
           round(max(robust_z), 4) AS max_z,
           min(event_id) AS first_outlier_id
    FROM scored WHERE robust_z > 3.0 GROUP BY 1
    """,
)


@query("stats_robust_means")
def stats_robust_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based robust location estimators per event type: 10% trimmed
    mean (drop the k=⌊n/10⌋ smallest and largest values) and winsorized
    mean (replace those tails with the retained boundary values). Count-
    based trimming — not percentile interpolation — so the retained
    multiset, and therefore the means, are EXACTLY defined and engine-
    independent (ties at the cut contribute the same values whichever
    rows a sort puts first).

    Scale shape: one shuffle on the group key into a per-group sort
    (row_number from both ends), then a plain aggregate — the same cost
    class as any per-group rank; no full-data window, no driver
    collection.

    The two rankings carry event_id as a mirrored tiebreaker (ASC with
    value ASC, DESC with value DESC) so ra + rd = n + 1 is an identity
    and the bottom-k / top-k removal tails are provably disjoint even
    when one value's tie group spans both tails (a near-constant group);
    without it the trim sets could overlap and the means become
    tie-order-dependent."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    wa = W.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wd = W.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    ).withColumn("k", F.floor(F.col("n") / 10))
    mid = ranked.filter((F.col("ra") > F.col("k")) & (F.col("rd") > F.col("k")))
    return (
        mid.groupBy("event_type")
        .agg(
            F.max("n").alias("__n"),
            F.max("k").alias("k_trim"),
            F.sum("value").alias("__sum"),
            F.count(F.lit(1)).alias("__cnt"),
            F.min("value").alias("__lo"),
            F.max("value").alias("__hi"),
        )
        .select(
            "event_type",
            F.col("__n").alias("n"),
            "k_trim",
            F.round(F.col("__sum") / F.col("__cnt"), 4).alias("trimmed_mean"),
            F.round(
                (
                    F.col("__sum")
                    + F.col("k_trim") * F.col("__lo")
                    + F.col("k_trim") * F.col("__hi")
                )
                / F.col("__n"),
                4,
            ).alias("winsor_mean"),
        )
        .orderBy("event_type")
    )


oracle(
    "stats_robust_means",
    """
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value ASC, event_id ASC) AS ra,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id DESC) AS rd,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ), mid AS (
        SELECT *, CAST(floor(n / 10) AS BIGINT) AS k
        FROM ranked WHERE ra > floor(n / 10) AND rd > floor(n / 10)
    )
    SELECT event_type, max(n) AS n, max(k) AS k_trim,
           round(sum(value) / count(*), 4) AS trimmed_mean,
           round((sum(value) + max(k) * min(value) + max(k) * max(value))
                 / max(n), 4) AS winsor_mean
    FROM mid GROUP BY event_type ORDER BY event_type
    """,
)


@query("dq_expectations")
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative one-pass data-quality gate (operators/dq.py): five
    row-local expectations + a key-uniqueness check on orders, compiled
    into a single aggregate scan + one unpivoted report."""
    from sdc_spark.operators.dq import dq_report

    ord_ = read_table(spark, sf_dir, "orders")
    checks = [
        ("price_positive", F.col("o_totalprice") > 0),
        ("date_present", F.col("o_orderdate").isNotNull()),
        (
            "status_known",
            F.col("o_orderstatus").isin("F", "O", "P"),
        ),
        ("custkey_present", F.col("o_custkey").isNotNull()),
        ("priority_format", F.col("o_orderpriority").rlike("^[1-5]-")),
    ]
    return dq_report(ord_, checks, unique_cols=["o_orderkey"])


oracle(
    "dq_expectations",
    """
    WITH agg AS (
        SELECT count(*) AS n,
               sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v1,
               sum(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END) AS v2,
               sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS v3,
               sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS v4,
               sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                        THEN 0 ELSE 1 END) AS v5,
               count(o_orderkey) - count(DISTINCT o_orderkey) AS v6
        FROM orders
    )
    SELECT "check", CAST(n_violations AS BIGINT) AS n_violations,
           round(CAST(n_violations AS DOUBLE) / n, 6) AS violation_rate
    FROM agg, (VALUES ('price_positive'), ('date_present'), ('status_known'),
                      ('custkey_present'), ('priority_format'),
                      ('unique:o_orderkey')) AS c("check"),
    LATERAL (SELECT CASE "check"
                 WHEN 'price_positive' THEN v1
                 WHEN 'date_present' THEN v2
                 WHEN 'status_known' THEN v3
                 WHEN 'custkey_present' THEN v4
                 WHEN 'priority_format' THEN v5
                 ELSE v6 END AS n_violations) x
    """,
)


@query("udtf_sentences")
def udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (functions/udtfs.py — §2.10's UDTF row, absent
    in the reference): lateral sentence segmentation over normalized
    document text, aggregated per doc. The split rule is RE2-safe so the
    DuckDB oracle runs it verbatim; the UDTF-vs-JVM equivalence is pinned
    in tests."""
    from sdc_spark.functions import udtfs
    from sdc_spark.operators.dedup import normalized_text

    udtfs.register(spark)
    doc = read_table(spark, sf_dir, "documents")
    doc.select("doc_id", normalized_text(F.col("text")).alias("norm")).createOrReplaceTempView(
        "__udtf_docs__"
    )
    sent = spark.sql(
        """
        SELECT d.doc_id, s.sent_no, s.sentence, s.n_words
        FROM __udtf_docs__ d, LATERAL split_sentences(d.norm) s
        """
    )
    return sent.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.max("n_words").alias("max_words"),
        F.md5(F.min("sentence").cast("binary")).alias("first_sent_md5"),
    )


oracle(
    "udtf_sentences",
    r"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS norm
        FROM documents
    ), sent AS (
        SELECT doc_id, unnest(
            list_filter(regexp_split_to_array(norm, '[.!?]+\s+'),
                        x -> trim(x) <> '')
        ) AS sentence
        FROM norm WHERE norm <> ''
    )
    SELECT doc_id, count(*) AS n_sentences,
           max(len(string_split(sentence, ' '))) AS max_words,
           md5(min(sentence)) AS first_sent_md5
    FROM sent GROUP BY 1
    """,
)


@query("variant_props_extract")
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data through Spark 4's VARIANT type: events.props
    is parsed ONCE into a variant column (binary-encoded, no re-parse per
    field access — the modern scale path vs get_json_object string
    re-parsing per call), then typed paths are extracted and profiled per
    event type. `json_props_extract` keeps the classic string-path form;
    this pins the variant path against the same DuckDB JSON oracle."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    )
    got = v.select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.try_variant_get("v", "$.missing", "string").alias("missing"),
    )
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("k_sum"),
        F.count("missing").alias("n_missing_present"),
        F.countDistinct("k").alias("k_distinct"),
    )


oracle(
    "variant_props_extract",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
           count(props->>'missing') AS n_missing_present,
           count(DISTINCT CAST(props->>'k' AS BIGINT)) AS k_distinct
    FROM events GROUP BY 1
    """,
)


@query("frame_cumsum")
def frame_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.cumsum() through the facade (ref series cumsum kernel
    numpy_like.py:875-958; frame level applies per column): BOTH numeric
    columns ride ONE distributed prefix-scan pass (order.scan —
    same shuffle count as a single column). Values pre-scaled to integer
    cents so the running sums are exact longs."""
    from sdc_spark.frame.core import SparkFrame

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("__index__"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
        F.col("user_id").alias("uid"),
    )
    sf = SparkFrame(ev)
    out = sf.cumsum()
    return out._df.select(
        F.col("__index__").alias("event_id"),
        F.col("v_cents").alias("cum_v_cents"),
        F.col("uid").alias("cum_uid"),
    )


oracle(
    "frame_cumsum",
    """
    SELECT event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
               OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS cum_v_cents,
           CAST(sum(user_id) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_uid
    FROM events
    """,
)


@query("frame_shift_diff")
def frame_shift_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.shift/df.diff through the facade (ref series shift
    …series_functions.py:1936; frame level is per-column codegen there):
    both columns ride ONE boundary-context pass each (order.shifted)
    — no per-column re-shuffle. Integer cents for exact diffs."""
    from sdc_spark.frame.core import SparkFrame

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("__index__"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
        F.col("user_id").alias("uid"),
    )
    sf = SparkFrame(ev)
    sh = sf.shift(3)
    df_ = sf.diff(2)
    a = sh._df.select(
        F.col("__index__").alias("event_id"),
        F.col("v_cents").alias("lag3_v"),
        F.col("uid").alias("lag3_uid"),
    )
    b = df_._df.select(
        F.col("__index__").alias("event_id"),
        F.col("v_cents").alias("diff2_v"),
        F.col("uid").alias("diff2_uid"),
    )
    return a.join(b, "event_id")


oracle(
    "frame_shift_diff",
    """
    WITH t AS (
        SELECT event_id,
               CAST(round(value * 100) AS BIGINT) AS v_cents, user_id
        FROM events
    )
    SELECT event_id,
           lag(v_cents, 3) OVER w AS lag3_v,
           lag(user_id, 3) OVER w AS lag3_uid,
           v_cents - lag(v_cents, 2) OVER w AS diff2_v,
           user_id - lag(user_id, 2) OVER w AS diff2_uid
    FROM t WINDOW w AS (ORDER BY event_id)
    """,
)


@query("dq_drift_psi")
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor (the standard corpus
    drift gate a continuously-ingesting pipeline runs between dump
    releases — PSI is public credit-scoring/ML-monitoring methodology):
    token-length distributions of a 'baseline' corpus slice (even
    doc_id) vs the 'incoming' slice (odd doc_id), bucketed to a fixed
    decile-ish grid, add-one smoothed, with the per-bucket PSI
    contribution (share_cur - share_base) * ln(share_cur / share_base).

    One aggregate scan builds BOTH histograms (conditional counts — no
    second pass, no shuffle beyond the 10-row groupBy); at 100 TB the
    monitor costs one corpus scan and moves 10 rows."""
    docs = read_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2 == 0).alias("is_base"),
        F.least(F.floor(F.length("text") / 100), F.lit(9)).alias("bucket"),
    )
    hist = docs.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = hist.agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    p = (F.col("n_base") + 1) / (F.col("t_base") + 10)
    q = (F.col("n_cur") + 1) / (F.col("t_cur") + 10)
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_base",
            "n_cur",
            F.round((q - p) * F.log(q / p), 4).alias("psi_contrib"),
        )
        .orderBy("bucket")
    )


oracle(
    "dq_drift_psi",
    """
    WITH hist AS (
        SELECT least(CAST(floor(length(text) / 100) AS BIGINT), 9) AS bucket,
               CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n_base) AS t_base, sum(n_cur) AS t_cur FROM hist)
    SELECT bucket, n_base, n_cur,
           round((1.0 * (n_cur + 1) / (t_cur + 10) - 1.0 * (n_base + 1) / (t_base + 10))
                 * ln((1.0 * (n_cur + 1) / (t_cur + 10)) / (1.0 * (n_base + 1) / (t_base + 10))),
                 4) AS psi_contrib
    FROM hist CROSS JOIN tot ORDER BY bucket
    """,
)
