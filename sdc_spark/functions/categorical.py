"""Categorical support (SURVEY.md §1.2): the reference packs categoricals
as minimal-width integer codes + a category list
(/root/reference/sdc/datatypes/categorical/types.py:43-110). Spark has no
first-class categorical type; the engine-level convention is an explicit
(codes: int, categories: broadcastable dim table) pair — dictionary
encoding in Parquet handles the storage side automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sdc_spark.operators.order import _one


def categories_of(df: DataFrame, col: str) -> DataFrame:
    """Sorted distinct categories with dense codes 0..k-1 (the reference
    sorts categories, types.py ordered-categories model)."""
    # dim-sized frame
    w = Window.partitionBy(_one(F.length(col))).orderBy(col)
    return (
        df.select(col)
        .filter(F.col(col).isNotNull())  # null is not a category (code -1)
        .distinct()
        .select(F.col(col).alias("category"), (F.row_number().over(w) - 1).alias("code"))
    )


def encode(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """Attach integer codes for a string column via a broadcast join against
    the category dim — the distributed equivalent of pandas .cat.codes.
    Null category → code -1 (pandas convention)."""
    out = out or f"{col}_code"
    cats = categories_of(df, col).withColumnsRenamed({"category": col, "code": out})
    joined = df.join(F.broadcast(cats), col, "left")
    return joined.withColumn(out, F.coalesce(F.col(out), F.lit(-1)))


def decode(df: DataFrame, code_col: str, categories: DataFrame, out: str) -> DataFrame:
    """codes → category strings (broadcast dim join)."""
    dim = categories.withColumnsRenamed({"code": code_col, "category": out})
    return df.join(F.broadcast(dim), code_col, "left")


def min_code_type(n_categories: int) -> str:
    """Minimal-width signed integer type holding codes -1..n-1 — the
    reference's CategoricalDtype width rule
    (sdc/datatypes/categorical/types.py:66-110)."""
    if n_categories < 2**7:
        return "tinyint"
    if n_categories < 2**15:
        return "smallint"
    if n_categories < 2**31:
        return "int"
    return "bigint"


def ordered_codes(col: str | F.Column, categories: list) -> F.Column:
    """Codes for an EXPLICIT ordered category list (pandas
    CategoricalDtype(categories, ordered=True)), as a pure expression:
    array_position over a literal array — no join, stays in codegen.
    Unknown/null values → -1. Width is the minimal signed int type.

    Ordered comparison (ref types.py:66-76 — pandas ordered categoricals
    compare by category rank) is then plain integer comparison on the
    codes: ``ordered_codes(c, cats) < ordered_codes(c2, cats)``."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.array(*[F.lit(x) for x in categories])
    # array_position: 0 when absent (→ -1 after shift), NULL for NULL input
    # (pandas codes null → -1 too)
    return F.coalesce(F.array_position(arr, c) - 1, F.lit(-1)).cast(
        min_code_type(len(categories))
    )


def cat_compare(col: str | F.Column, other, categories: list, op: str) -> F.Column:
    """Ordered-categorical comparison: ``other`` is a category value or
    another column; both map to rank codes, then integer-compare.
    op in {lt, le, gt, ge, eq, ne}."""
    a = ordered_codes(col, categories)
    if isinstance(other, (str, int, float)):
        b = F.lit(categories.index(other)).cast(min_code_type(len(categories)))
    else:
        b = ordered_codes(other, categories)
    import operator as _op

    cmp = {
        "lt": _op.lt, "le": _op.le, "gt": _op.gt,
        "ge": _op.ge, "eq": _op.eq, "ne": _op.ne,
    }[op](a, b)
    # pandas: comparisons involving NaN/unknown (-1 codes) are False
    # (True for ne)
    valid = (a >= 0) & (b >= 0)
    return F.when(valid, cmp).otherwise(F.lit(op == "ne"))
