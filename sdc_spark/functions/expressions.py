"""Arithmetic / comparison / cast expressions with pandas edge semantics.

The reference generates these per-dtype from templates
(/root/reference/sdc/sdc_autogenerated.py:55-2703, templates in
sdc/sdc_function_templates.py) — add/div/sub/mul/truediv/floordiv/mod/pow
and the comparison set, all NaN-aware. Here each is a Column→Column builder
over Spark's JVM expressions; observed pandas semantics (validated against
pandas 2.x):

- ``a / 0``   → ±inf (sign of a), ``0/0`` → NaN      (never an error)
- ``a // b``  → floor(a/b), so ``a // 0`` → ±inf, ``0//0`` → NaN
- ``a % b``   → sign of the DIVISOR (Python), ``a % 0`` → NaN
  (Spark's ``%`` is C-style — sign of dividend — so we re-derive)
- ``astype(int)`` truncates toward zero.

Everything is computed in double space (matching the reference's data model
where int columns have no nulls and NaN is the float null — SURVEY §1.3).
All builders are ANSI-mode-safe: no expression here can raise at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _ieee_div_by_zero(ad: Column, bd: Column) -> Column:
    """IEEE a/±0.0 — including the SIGN of a zero divisor, which no
    comparison can see (-0.0 == 0.0): pow(±0.0, -1) is IEEE ±inf, and the
    multiply then settles sign/NaN exactly as hardware division would
    (0*inf → NaN covers 0/0; NaN propagates)."""
    return ad * F.pow(bd, F.lit(-1.0))


def pandas_div(a, b) -> Column:
    """True division, float semantics: ±inf on zero division (sign of BOTH
    operands, -0.0 divisors included), NaN for 0/0."""
    ad, bd = _c(a).cast("double"), _c(b).cast("double")
    return F.when(bd != 0.0, ad / bd).otherwise(_ieee_div_by_zero(ad, bd))


def pandas_floordiv(a, b) -> Column:
    """Python-divmod floor division (what numpy/pandas implement — NOT
    plain floor(a/b) at the infinities): inf // finite → NaN,
    finite // ∓inf → -1.0 when signs differ else 0.0, zero divisors give
    signed infinities (NaN for inf/0 and 0/0)."""
    ad, bd = _c(a).cast("double"), _c(b).cast("double")
    nan = F.lit(float("nan"))
    inf_a = F.abs(ad) == F.lit(float("inf"))
    inf_b = F.abs(bd) == F.lit(float("inf"))
    by_inf = F.when(F.signum(ad) * F.signum(bd) >= 0, F.lit(0.0)).otherwise(F.lit(-1.0))
    return (
        # NULL first: a null operand must not fall through the sign logic
        # (NaN often arrives as NULL via the pandas boundary)
        F.when(ad.isNull() | bd.isNull(), F.lit(None).cast("double"))
        .when(F.isnan(ad) | F.isnan(bd), nan)
        .when(
            bd != 0.0,
            F.when(inf_a, nan)
            .when(inf_b, by_inf)
            # F.floor returns LONG (clamps at ±2^63); quotients at |q|≥2^53
            # are already integral doubles (incl. overflow-to-inf), so only
            # floor below that
            .otherwise(
                F.when(F.abs(ad / bd) >= F.lit(2.0**53), ad / bd).otherwise(
                    F.floor(ad / bd).cast("double")
                )
            ),
        )
        .otherwise(
            # zero divisor: the IEEE result (±inf, or NaN for 0/0) is what
            # numpy floor_divide returns — even for inf/0. Never pass
            # infinities through F.floor (its long return clamps to ±2^63).
            _ieee_div_by_zero(ad, bd)
        )
    )


def pandas_mod(a, b) -> Column:
    """Python modulo: result takes the sign of the divisor; x % 0 → NaN.
    C-style % re-signed only when signs differ — the naive
    ((a%b)+b)%b breaks on infinite divisors (a + inf overflows the second
    %)."""
    ad, bd = _c(a).cast("double"), _c(b).cast("double")
    m = ad % bd
    # `m + 0.0` normalizes a -0.0 remainder to +0.0 (cross-engine hash
    # stability; pandas' own -0.0-for-negative-divisor quirk is invisible
    # to equality and not worth diverging from SQL engines over)
    signed = F.when(
        (m != 0.0) & (F.signum(m) != F.signum(bd)), m + bd
    ).otherwise(m + 0.0)
    return F.when(bd != 0.0, signed).otherwise(F.lit(float("nan")))


def pandas_pow(a, b) -> Column:
    """F.pow is already IEEE (0**0 = 1, inf handling) — matches numpy."""
    return F.pow(_c(a).cast("double"), _c(b).cast("double"))


def astype_long(x) -> Column:
    """pandas astype(int): truncate toward zero (Spark's double→long cast
    truncates; DuckDB's CAST rounds — oracles must use trunc())."""
    return _c(x).cast("double").cast("long")


def isna(x, floating: bool = False) -> Column:
    """ref sdc/hiframes/api.py:53-78: NaN is the float null. Pass
    ``floating=True`` for float columns so NaN counts as missing (a Column
    alone carries no dtype, so the caller decides)."""
    c = _c(x)
    return (c.isNull() | F.isnan(c)) if floating else c.isNull()


def notna(x, floating: bool = False) -> Column:
    c = _c(x)
    return (~F.isnan(c) & c.isNotNull()) if floating else c.isNotNull()


def fillna(x, value, floating: bool = False) -> Column:
    """ref …series_functions.py:4040 / kernel numpy_like.py:535-627."""
    c = _c(x)
    return F.when(isna(c, floating), F.lit(value)).otherwise(c)
