"""Text-analysis functions for training-data pipelines: token counting,
language ID, quality scoring, document fingerprinting. All JVM-side
(regex + array expressions); ratios are integer-over-integer divisions so
results are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sdc_spark.operators.dedup import ngrams_of_tokens, normalized_text


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def ws_token_count(x) -> Column:
    """Whitespace tokenization count."""
    t = F.trim(_c(x))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(x) -> Column:
    """BPE-ish regex token count: letter runs, single digits, punctuation
    marks — the standard cheap proxy for subword token counts."""
    return F.regexp_count(_c(x), F.lit(BPE_ISH))


# Marker stopwords per language — tiny n-gram/stopword heuristic in the
# fastText spirit, table-driven so the lang set extends by data, not code.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "es": ["el", "la", "de", "que", "los", "una"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "les", "des", "est", "une"],
    "zh": ["的", "是", "了", "在", "和", "有"],
}


def _marker_hits(x, words: list[str]) -> Column:
    pat = r"(^| )(" + "|".join(words) + r")( |$)"
    return F.regexp_count(normalized_text(_c(x)), F.lit(pat))


def lang_id(x) -> Column:
    """Best-scoring language by marker-word hits; 'und' (undetermined)
    when nothing matches."""
    c = _c(x)
    scored = F.array(
        *[
            F.struct(_marker_hits(c, ws).alias("hits"), F.lit(lang).alias("lang"))
            for lang, ws in LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scored)  # struct compare: hits first, then lang
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_components(x) -> dict[str, Column]:
    """Length/punct/stopword quality signals (Gopher/C4-style filters)."""
    c = _c(x)
    n_chars = F.length(c)
    toks = ws_token_count(c)
    n_alpha = F.regexp_count(c, F.lit(r"[A-Za-z]"))
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    n_stop = _marker_hits(c, LANG_MARKERS["en"])
    return {
        "n_chars": n_chars,
        "n_tokens": toks,
        "alpha_ratio": F.try_divide(n_alpha.cast("double"), n_chars.cast("double")),
        "punct_ratio": F.try_divide(n_punct.cast("double"), n_chars.cast("double")),
        "stopword_ratio": F.try_divide(n_stop.cast("double"), toks.cast("double")),
        "mean_word_len": F.try_divide((n_chars - toks + 1).cast("double"), toks.cast("double")),
    }


def quality_score(x) -> Column:
    """Single quality scalar in [0,1]-ish: weighted combination of the
    components (weights fixed; the FILTER decision is a threshold on this)."""
    q = quality_components(x)
    return (
        q["alpha_ratio"] * 0.4
        + (1.0 - q["punct_ratio"]) * 0.2
        + F.least(q["stopword_ratio"] * 4.0, F.lit(1.0)) * 0.4
    )


def fingerprint_shingle_min_tokens(toks: Column, ngram: int = 3) -> Column:
    """Min-shingle fingerprint over an already-materialized token array —
    the scale form: the token column is evaluated once per row, not once
    per shingle."""
    return F.array_min(
        F.transform(ngrams_of_tokens(toks, ngram), lambda g: F.md5(g.cast("binary")))
    )


def with_fingerprints(df, text_col: str, id_col: str, ngram: int = 3):
    """(id, fp_md5, fp_shingle) frame with the normalized text and token
    array materialized in separate projections, so the normalize/split
    regex pipeline runs ONCE per row. CollapseProject keeps non-cheap
    multi-referenced aliases in their own projection, which pins the
    evaluation count — the inline one-select form re-runs the whole
    pipeline per shingle (observed 13× slowdown at sf0.1).

    Temp column names are derived collision-free from df.columns, so the
    helper is safe on frames that already carry __norm__/__toks__."""
    norm_c, toks_c = "__norm__", "__toks__"
    while norm_c in df.columns:
        norm_c += "_"
    while toks_c in df.columns:
        toks_c += "_"
    norm = df.select(
        F.col(id_col), normalized_text(text_col).alias(norm_c)
    )
    toks = norm.select(
        F.col(id_col), norm_c, F.split(F.col(norm_c), " ").alias(toks_c)
    )
    return toks.select(
        F.col(id_col),
        F.md5(F.col(norm_c).cast("binary")).alias("fp_md5"),
        fingerprint_shingle_min_tokens(F.col(toks_c), ngram).alias("fp_shingle"),
    )


# -- PII detection / scrubbing (extension: training-data redaction) ---------

# Regexes kept in the RE2 ∩ Java-regex dialect (no backrefs/lookahead) so
# Spark and SQL oracles (DuckDB) match byte-for-byte.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn_like": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_counts(x) -> dict[str, Column]:
    """Per-kind PII match counts — pure regexp_count expressions, codegen."""
    c = _c(x)
    return {k: F.regexp_count(c, F.lit(p)) for k, p in PII_PATTERNS.items()}


def pii_scrub(x) -> Column:
    """Replace each PII kind with a typed placeholder token (<EMAIL> etc.) —
    chained regexp_replace, one pass per kind, all JVM-side. Order matters:
    ssn before phone (both dash-digit shapes, ssn is the more specific)."""
    c = _c(x)
    for k in ("email", "ssn_like", "phone", "ipv4"):
        c = F.regexp_replace(c, PII_PATTERNS[k], f"<{k.upper()}>")
    return c


# -- Gopher-style rule filter (extension: training-data quality gates) ------

# Thresholds follow the published Gopher/MassiveText rules, adapted to the
# single-line synthetic corpus (the line-shape rules — bullet/ellipsis line
# fractions — are meaningless on one-line docs and are omitted).
GOPHER_RULES = {
    "min_words": 30,
    "max_words": 50_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
}


def gopher_flags(x) -> dict[str, Column]:
    """Per-document pass/fail booleans for each Gopher-style rule, as pure
    array/regex expressions (codegen; zero shuffle — a row-local map).

    The word list is materialized once per row via ``split``; every rule
    reads the same array expression, which Catalyst keeps in one
    projection (CollapseProject does not inline multi-referenced non-cheap
    aliases)."""
    c = F.trim(_c(x))
    words = F.split(c, r"\s+")
    n_words = F.when(F.length(c) == 0, F.lit(0)).otherwise(F.size(words))
    mean_wl = F.try_divide(
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).cast("double"),
        n_words.cast("double"),
    )
    n_symbol = F.regexp_count(c, F.lit(r"#|\.\.\."))
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_stop = _marker_hits(c, LANG_MARKERS["en"])
    r = GOPHER_RULES
    return {
        "ok_word_count": (n_words >= r["min_words"]) & (n_words <= r["max_words"]),
        "ok_mean_word_len": (mean_wl >= r["min_mean_word_len"])
        & (mean_wl <= r["max_mean_word_len"]),
        "ok_symbol_ratio": F.try_divide(n_symbol.cast("double"), n_words.cast("double"))
        < r["max_symbol_word_ratio"],
        "ok_alpha_words": F.try_divide(
            n_alpha_words.cast("double"), n_words.cast("double")
        )
        >= r["min_alpha_word_frac"],
        "ok_stopwords": n_stop >= r["min_stop_hits"],
    }


def gopher_keep(x) -> Column:
    """AND of every Gopher rule — the document-level keep decision."""
    flags = gopher_flags(x)
    keep = F.lit(True)
    for f in flags.values():
        keep = keep & F.coalesce(f, F.lit(False))
    return keep


# -- repetition signals (extension: Gopher/C4-style quality filters) --------


def repetition_signals(df, text_col: str, id_col: str):
    """Per-document repetition metrics used by large-corpus quality
    filters: fraction of tokens taken by the single most frequent token,
    and the distinct-token fraction (type/token ratio). Highly repetitive
    machine-generated pages score high top-token / low distinct fractions.

    Plan: explode tokens -> (doc, token) counts -> per-doc max/sum/count.
    The token-pair shuffle is proportional to corpus token count — the
    same cost class as any inverted-index build, partial-aggregated
    map-side. Ratios are integer-over-integer doubles (bit-identical
    across engines, no rounding needed). Empty documents are dropped
    (no tokens -> no signal)."""
    toks_c = "__rtoks__"
    while toks_c in df.columns:
        toks_c += "_"
    t = F.trim(_c(text_col))
    toks = df.filter(F.length(t) > 0).select(
        F.col(id_col), F.explode(F.split(t, r"\s+")).alias(toks_c)
    )
    per_tok = toks.groupBy(id_col, toks_c).agg(F.count(F.lit(1)).alias("__n__"))
    return per_tok.groupBy(id_col).agg(
        (F.max("__n__").cast("double") / F.sum("__n__")).alias("top_token_frac"),
        (F.count(F.lit(1)).cast("double") / F.sum("__n__")).alias("distinct_frac"),
        F.sum("__n__").alias("n_tokens"),
    )


def html_to_text(x) -> Column:
    """HTML → text extraction (the first stage of any crawl-derived
    training pipeline): drop <script>/<style>/comment blocks wholesale,
    turn block-level closers into separators, strip remaining tags,
    decode the six common entities, collapse whitespace. Pure
    regexp_replace/replace chain — JVM-side, whole-stage-codegen, no
    UDF — and every step has an exact RE2 twin, so the DuckDB oracle
    EXECUTES the same extraction rather than rubber-stamping booleans.
    Entity decode order matters: &amp; must go LAST or '&amp;lt;' would
    double-decode to '<'."""
    c = _c(x)
    c = F.regexp_replace(c, r"(?is)<script\b.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/td)[^>]*>", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def canonical_url(x) -> Column:
    """URL canonicalization (the crawl-dedup key: the same page is
    fetched under utm-tagged / reordered-param / fragment / case
    variants, and a 100-TB crawl dedups on the CANONICAL form before
    any content hashing): lowercase scheme+host, strip default :80/:443
    ports, drop the fragment, remove tracking params (utm_*, fbclid,
    gclid), sort the surviving query params, normalize the empty path
    to '/', and strip a trailing slash from non-root paths. Pure JVM
    expression chain (regexp + higher-order array functions), exact
    RE2/list-function twins in DuckDB."""
    c = _c(x)
    c = F.regexp_replace(c, r"#.*$", "")  # fragment
    head = F.lower(
        F.regexp_extract(c, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    )
    # default ports are scheme-specific: http://host:443 is a DIFFERENT
    # origin than http://host, so only strip the port its scheme defaults
    head = F.regexp_replace(head, r"^(http://.*):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://.*):443$", r"$1")
    rest = F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
    path = F.regexp_replace(rest, r"\?.*$", "")
    query = F.when(
        rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.startswith("utm_")
        & ~p.startswith("fbclid")
        & ~p.startswith("gclid"),
    )
    qs = F.array_join(F.array_sort(params), "&")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.regexp_replace(path, r"(.)/$", r"$1")
    return F.concat(
        head,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def hashed_linear_score(x, n_buckets: int = 65536) -> Column:
    """fasttext-style linear text classifier INFERENCE at scan speed —
    the shape every production quality/toxicity/domain filter runs over
    a 100-TB corpus: hash each token into one of ``n_buckets`` feature
    buckets, sum the bucket weights, squash with a sigmoid. Here the
    weight table is IMPLICIT (a deterministic hash of the bucket id,
    uniform in [-1, 1]) so the oracle can recompute it exactly; a real
    model replaces ``w`` with ``F.element_at(broadcast_weight_map,
    bucket)`` — same plan, the weights ride the closure as a literal
    map or a broadcast join against a (bucket, weight) dim.

    Plan shape: ONE higher-order aggregate over the token array — no
    explode, no shuffle, no UDF; inference is a row-local expression, so
    it runs at parquet scan speed on any corpus size. Token order is
    preserved by the list fold, so the double sum is bit-reproducible
    across engines (DuckDB twin: list_sum over list_transform)."""
    c = _c(x)
    toks = F.filter(
        F.split(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "), " "),
        lambda t: F.length(t) > 0,
    )
    # bucket = md5-derived (portable); weight = md5 of the BUCKET id so a
    # real weight table keyed by bucket reproduces the exact lookup shape
    def w(t: Column) -> Column:
        bucket = (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            % n_buckets
        )
        return (
            F.conv(F.substring(F.md5(bucket.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 2001
            - 1000
        ).cast("double") / 1000.0

    n = F.size(toks)
    wsum = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + w(t))
    mean = F.when(n > 0, wsum / n).otherwise(F.lit(0.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-mean * 4.0))


# -- encoding-artifact (mojibake) detection ----------------------------------

# Literal-character patterns shared verbatim by Java regex and RE2 (no
# escapes, no dialect-specific classes): the classic UTF-8-read-as-Latin-1
# two-byte sequences (Ã© for é, Ã± for ñ, ...), the Windows-1252 smart-punct
# triple (â€™ â€œ â€�), the NBSP artifact (Â before a space), and the
# replacement character a lossy transcode leaves behind.
MOJIBAKE_PATTERNS = {
    "latin1_utf8": "Ã[©¨¡³ºñ¤¶¼«»]",
    "win1252_punct": "â€",
    "nbsp_artifact": "Â ",
    "replacement_char": "�",
}


def encoding_artifact_counts(x) -> dict[str, Column]:
    """Per-kind mojibake match counts — the cheap encoding-health signal a
    crawl pipeline computes per document before spending anything else on
    it (double-transcoded pages are unreadable to a tokenizer even though
    every byte is valid UTF-8, so byte-level validation misses them).
    Pure regexp_count expressions on literal patterns — codegen,
    row-local, identical bytes in the DuckDB twin. Heuristic by design:
    'Ã©' is also a legitimate sequence in rare texts — these are signals
    feeding a threshold, not proof."""
    c = _c(x)
    return {k: F.regexp_count(c, F.lit(p)) for k, p in MOJIBAKE_PATTERNS.items()}


def encoding_clean(x) -> Column:
    """True when no artifact class fires — the keep flag a recipe applies
    before tokenization."""
    counts = encoding_artifact_counts(x)
    total = None
    for v in counts.values():
        total = v if total is None else total + v
    return total == 0
