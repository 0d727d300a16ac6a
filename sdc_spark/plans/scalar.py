"""Scalar-function coverage: SURVEY.md §2.9 — string methods, datetime
fields, missing-data ops, arithmetic with pandas edge semantics.

Every computed column goes through sdc_spark.functions builders (the
engine's expression layer); the oracle SQL spells out the SAME formula so
the comparison validates the builder, not DuckDB's own shortcut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.functions import dt as sdt
from sdc_spark.functions import expressions as sexpr
from sdc_spark.functions import strings as sstr
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table as _t


@query("str_basic")
def str_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lower/upper/capitalize/length/strip (ref stringmethods overloads,
    hpat_pandas_stringmethods_functions.py:95-1053)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        sstr.lower("p_name").alias("lname"),
        sstr.upper("p_brand").alias("ubrand"),
        sstr.capitalize("p_type").alias("cap_type"),
        sstr.length("p_name").alias("name_len"),
        sstr.strip(F.concat(F.lit("  "), F.col("p_name"), F.lit("\t"))).alias("stripped"),
    )


oracle(
    "str_basic",
    """
    SELECT p_partkey,
           lower(p_name)  AS lname,
           upper(p_brand) AS ubrand,
           upper(substr(p_type, 1, 1)) || lower(substr(p_type, 2)) AS cap_type,
           length(p_name) AS name_len,
           trim('  ' || p_name || chr(9)) AS stripped
    FROM part
    """,
)


@query("str_pad")
def str_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ljust/rjust/center/zfill with exact CPython padding semantics
    (center's odd-pad-odd-width extra char goes LEFT; zfill is sign-aware;
    none of them truncate)."""
    cust = _t(spark, sf_dir, "customer")
    negstr = F.concat(F.lit("-"), F.col("c_custkey").cast("string"))
    return cust.select(
        "c_custkey",
        sstr.rjust("c_mktsegment", 12, "_").alias("rj"),
        sstr.ljust("c_mktsegment", 12, "_").alias("lj"),
        sstr.center("c_mktsegment", 13, "*").alias("ctr"),
        sstr.zfill(negstr, 7).alias("zneg"),
        sstr.zfill(F.col("c_custkey").cast("string"), 7).alias("zpos"),
    )


oracle(
    "str_pad",
    """
    WITH t AS (
        SELECT c_custkey, c_mktsegment AS s,
               '-' || CAST(c_custkey AS VARCHAR) AS ns,
               CAST(c_custkey AS VARCHAR) AS ps
        FROM customer
    )
    SELECT c_custkey,
           CASE WHEN length(s) >= 12 THEN s ELSE lpad(s, 12, '_') END AS rj,
           CASE WHEN length(s) >= 12 THEN s ELSE rpad(s, 12, '_') END AS lj,
           CASE WHEN length(s) >= 13 THEN s
                ELSE rpad(lpad(s, CAST(length(s)
                         + CAST(floor((13 - length(s)) / 2) AS INT)
                         + CASE WHEN (13 - length(s)) % 2 = 1 THEN 1 ELSE 0 END
                     AS INT), '*'), 13, '*')
           END AS ctr,
           CASE WHEN length(ns) >= 7 THEN ns
                ELSE '-' || lpad(substr(ns, 2), 6, '0') END AS zneg,
           CASE WHEN length(ps) >= 7 THEN ps
                ELSE lpad(ps, 7, '0') END AS zpos
    FROM t
    """,
)


@query("str_predicates")
def str_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is{alpha,digit,alnum,lower,upper,space} character-class predicates
    (ref :95-1053; regex-based, stays in codegen)."""
    doc = _t(spark, sf_dir, "documents")
    tok = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    return doc.select(
        "doc_id",
        tok.alias("token"),
        sstr.isalpha(tok).alias("is_alpha"),
        sstr.isdigit(tok).alias("is_digit"),
        sstr.isalnum(tok).alias("is_alnum"),
        sstr.islower(tok).alias("is_lower"),
        sstr.isupper(sstr.upper(tok)).alias("is_upper_uc"),
        sstr.isspace(F.lit("  \t")).alias("is_space_lit"),
    )


oracle(
    "str_predicates",
    r"""
    WITH t AS (SELECT doc_id, split_part(text, ' ', 1) AS token FROM documents)
    SELECT doc_id, token,
           regexp_matches(token, '^\p{L}+$')            AS is_alpha,
           regexp_matches(token, '^\p{Nd}+$')           AS is_digit,
           regexp_matches(token, '^[\p{L}\p{Nd}]+$')    AS is_alnum,
           regexp_matches(token, '\p{Ll}') AND NOT regexp_matches(token, '\p{Lu}') AS is_lower,
           regexp_matches(upper(token), '\p{Lu}') AND NOT regexp_matches(upper(token), '\p{Ll}') AS is_upper_uc,
           regexp_matches('  ' || chr(9), '^\s+$')      AS is_space_lit
    FROM t
    """,
)


@query("str_search_replace")
def str_search_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """find (-1 when absent) / contains(regex) / startswith / endswith /
    replace / split+join (ref str_ext.py:125-376 for scalar replace/split/join)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        sstr.find("p_name", "er").alias("find_er"),
        sstr.contains("p_name", "a.*e", regex=True).alias("has_a_e"),
        sstr.startswith("p_brand", "Brand#1").alias("sw"),
        sstr.endswith("p_type", "TIN").alias("ew"),
        sstr.replace("p_name", " ", "_").alias("snake"),
        sstr.join(sstr.split("p_name", " "), "-").alias("dashed"),
    )


oracle(
    "str_search_replace",
    """
    SELECT p_partkey,
           CAST(strpos(p_name, 'er') - 1 AS INT)            AS find_er,
           regexp_matches(p_name, 'a.*e')                    AS has_a_e,
           starts_with(p_brand, 'Brand#1')                   AS sw,
           p_type LIKE '%TIN'                                AS ew,
           replace(p_name, ' ', '_')                         AS snake,
           array_to_string(string_split(p_name, ' '), '-')   AS dashed
    FROM part
    """,
)


@query("dt_fields")
def dt_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp field extraction (ref pd_timestamp_ext.py:120-160,
    test_date.py:50-200) with pandas numbering (weekday Monday=0)."""
    ord_ = _t(spark, sf_dir, "orders")
    return ord_.select(
        "o_orderkey",
        sdt.year("o_orderdate").alias("y"),
        sdt.month("o_orderdate").alias("m"),
        sdt.day("o_orderdate").alias("d"),
        sdt.quarter("o_orderdate").alias("q"),
        sdt.dayofyear("o_orderdate").alias("doy"),
        sdt.dayofweek("o_orderdate").alias("wd"),
        sdt.is_month_start("o_orderdate").alias("m_start"),
        sdt.date("o_orderdate").cast("string").alias("d_str"),
    )


oracle(
    "dt_fields",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)      AS y,
           CAST(month(o_orderdate) AS INT)     AS m,
           CAST(day(o_orderdate) AS INT)       AS d,
           CAST(quarter(o_orderdate) AS INT)   AS q,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(isodow(o_orderdate) - 1 AS INT) AS wd,
           day(o_orderdate) = 1                AS m_start,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d_str
    FROM orders
    """,
)


@query("dt_arithmetic")
def dt_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: day deltas between ship and order dates, date
    shifting and truncation (all as strings — identical text form in both
    engines)."""
    li = _t(spark, sf_dir, "lineitem")
    ord_ = _t(spark, sf_dir, "orders")
    j = li.join(ord_, li.l_orderkey == ord_.o_orderkey, "inner")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        sdt.days_between("l_shipdate", "o_orderdate").alias("ship_delay"),
        F.date_add(F.to_date("o_orderdate"), 30).cast("string").alias("due_date"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").cast("string").alias("order_month"),
        F.last_day(F.col("o_orderdate")).cast("string").alias("month_end"),
    )


oracle(
    "dt_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS ship_delay,
           CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS due_date,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS order_month,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)


@query("null_handling")
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isna/notna/fillna over join-produced NULLs (ref
    …series_functions.py:2357-2538, 4040; kernel numpy_like.py:535-627)."""
    cust = _t(spark, sf_dir, "customer")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 350000.0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    j = cust.join(big, cust.c_custkey == big.o_custkey, "left")
    return j.select(
        "c_custkey",
        sexpr.fillna("n_big", 0).alias("n_big_filled"),
        sexpr.notna("n_big").alias("has_big"),
        sexpr.isna("n_big").alias("no_big"),
        F.coalesce("n_big", F.lit(-1)).alias("n_big_coalesced"),
    )


oracle(
    "null_handling",
    """
    SELECT c_custkey,
           coalesce(n_big, 0)      AS n_big_filled,
           n_big IS NOT NULL       AS has_big,
           n_big IS NULL           AS no_big,
           coalesce(n_big, -1)     AS n_big_coalesced
    FROM customer
    LEFT JOIN (
        SELECT o_custkey, count(*) AS n_big
        FROM orders WHERE o_totalprice > 350000.0 GROUP BY o_custkey
    ) b ON c_custkey = o_custkey
    """,
)


@query("arith_edge_semantics")
def arith_edge_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """floordiv/mod/div/pow with pandas edge semantics (ref generated binops
    sdc/sdc_autogenerated.py:55-1174): a/0 → ±inf, 0/0 → NaN, a%0 → NaN,
    mod takes the divisor's sign, astype truncates toward zero. ANSI-safe —
    no expression raises."""
    li = _t(spark, sf_dir, "lineitem")
    a = (F.col("l_quantity") - 25).cast("double")
    b = (F.col("l_linenumber") - 3).cast("double")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        a.alias("a"),
        b.alias("b"),
        sexpr.pandas_div(a, b).alias("div_ab"),
        sexpr.pandas_floordiv(a, b).alias("fdiv_ab"),
        sexpr.pandas_mod(a, b).alias("mod_ab"),
        sexpr.pandas_pow(a, F.lit(2.0)).alias("pow_a2"),
        sexpr.astype_long(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price_int"),
    )


oracle(
    "arith_edge_semantics",
    """
    WITH t AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity - 25 AS DOUBLE)   AS a,
               CAST(l_linenumber - 3 AS DOUBLE)  AS b,
               l_extendedprice / l_quantity       AS ratio
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, a, b,
           CASE WHEN b <> 0 THEN a / b
                WHEN a > 0 THEN CAST('infinity' AS DOUBLE)
                WHEN a < 0 THEN CAST('-infinity' AS DOUBLE)
                ELSE CAST('nan' AS DOUBLE) END AS div_ab,
           CASE WHEN b <> 0 THEN floor(a / b)
                WHEN a > 0 THEN CAST('infinity' AS DOUBLE)
                WHEN a < 0 THEN CAST('-infinity' AS DOUBLE)
                ELSE CAST('nan' AS DOUBLE) END AS fdiv_ab,
           CASE WHEN b <> 0 THEN fmod(fmod(a, b) + b, b)
                ELSE CAST('nan' AS DOUBLE) END AS mod_ab,
           pow(a, 2.0) AS pow_a2,
           CAST(trunc(ratio) AS BIGINT) AS unit_price_int
    FROM t
    """,
)


@query("str_title_swapcase")
def str_title_swapcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """title/swapcase — per-character case logic via Arrow-vectorized pandas
    UDFs (the engine's sanctioned slow path; ref pandas_series_functions/
    map.py:38-115 is the same pattern). Python titlecase rules aren't
    expressible in DuckDB in general, but on this ASCII alpha+space
    input (lowered p_name ++ p_type) they reduce to per-word initcap,
    and swapcase∘capitalize reduces to lower(first)+upper(rest) — so
    the oracle IS exact SQL here (verified char-exact vs Python's own
    str.title/.swapcase on the full column)."""
    part = _t(spark, sf_dir, "part")
    low = sstr.lower(F.concat_ws(" ", "p_name", "p_type"))
    return part.select(
        "p_partkey",
        sstr.title(low).alias("titled"),
        sstr.swapcase(sstr.capitalize(low)).alias("swapped"),
    )


oracle(
    "str_title_swapcase",
    """
    WITH low AS (
        SELECT p_partkey, lower(p_name || ' ' || p_type) AS s FROM part
    )
    SELECT p_partkey,
           array_to_string(list_transform(string_split(s, ' '),
                                          w -> upper(w[1]) || w[2:]), ' ') AS titled,
           substr(s, 1, 1) || upper(substr(s, 2)) AS swapped
    FROM low
    """,
)
