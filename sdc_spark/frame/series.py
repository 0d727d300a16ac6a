"""SparkSeries — the reference's SeriesType surface
(/root/reference/sdc/datatypes/hpat_pandas_series_functions.py, 4,875 LoC of
@overload methods) re-expressed as a thin wrapper over a 2-column Spark
DataFrame (__index__, value).

Binary ops align on the index via a full outer join — exactly the
reference's ``_sdc_internal_join`` semantics
(sdc/datatypes/common_functions.py:225-456). Reductions return Python
scalars (the reference returns numpy scalars).

A Series is a one-column frame: the methods a DataFrame also has (fills,
cum*, shift/diff/pct_change, head/take, the reductions, describe,
nlargest/nsmallest, duplicated, isna/fillna/dropna) run the SparkFrame
kernel on ``SparkFrame(self._df)``, whose only column is ``__value__``,
and re-wrap the result with the Series' name. Order-dependent ops run in
the current row order: a carried ``__ord__`` rank (after sort_values,
take, nlargest, ...), else ``__index__``.
"""

from __future__ import annotations

import re
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sdc_spark.functions import dt as sdt
from sdc_spark.functions import expressions as sexpr
from sdc_spark.functions import strings as sstr
from sdc_spark.operators import order as sorder

IDX = "__index__"
VAL = "__value__"
NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def floats(df: DataFrame) -> set[str]:
    """The float/double columns of ``df``: the ones that can hold NaN."""
    return {c for c, t in df.dtypes if t in ("float", "double")}


def valid(c: str, floating: bool) -> Column:
    """Column ``c`` with every missing value as null: NaN too when
    ``floating`` (Spark aggregates and sorts treat NaN as a number larger
    than any other; pandas skips it)."""
    return F.when(sexpr.notna(F.col(c), floating), F.col(c))


class LazyIndex:
    """Deferred index labels: holds the (ordered) one-column plan and only
    collects when the contents are observed. Keeps ``series.index`` cheap
    as an attribute while preserving list-like reads.

    Scale warning: OBSERVING the contents (tolist/iter/len-triggered
    paths) collects every index label to the driver — the pandas-parity
    API boundary, correct for dim-sized frames, a driver OOM on a
    100-TB fact table. Stay in the DataFrame API (the IDX column) for
    anything fact-sized."""

    def __init__(self, df: DataFrame):
        self._plan = df
        self._cache: list | None = None

    def tolist(self) -> list:
        if self._cache is None:
            self._cache = [r[0] for r in self._plan.collect()]
        return self._cache

    to_list = tolist

    def __iter__(self):
        return iter(self.tolist())

    def __len__(self) -> int:
        if self._cache is not None:
            return len(self._cache)
        return self._plan.count()

    def __getitem__(self, i):
        return self.tolist()[i]

    def __eq__(self, other) -> bool:  # type: ignore[override]
        if isinstance(other, LazyIndex):
            other = other.tolist()
        return self.tolist() == list(other)

    def __repr__(self) -> str:
        return f"LazyIndex({self.tolist()!r})"


class SparkSeries:
    def __init__(self, df: DataFrame, name: str | None = None, floating: bool = False):
        """df must have columns (__index__, __value__). ``floating`` tags
        float dtype so NaN participates in null semantics (SURVEY §1.3)."""
        self._df = df
        self.name = name
        self._floating = floating or dict(df.dtypes).get(VAL) in ("double", "float")

    # -- construction ------------------------------------------------------

    @classmethod
    def from_column(cls, sdf: DataFrame, col: str, index_col: str = IDX) -> SparkSeries:
        return cls(
            sdf.select(F.col(index_col).alias(IDX), F.col(col).alias(VAL)), name=col
        )

    # -- basic attrs (ref …series_functions.py:1224-1812) ------------------

    def __len__(self) -> int:
        return self._df.count()

    @property
    def size(self) -> int:
        return len(self)

    def to_pandas(self):
        # results that carry their own ordering (value_counts, sort_values)
        # expose it as __ord__; plain series order by index
        if "__ord__" in self._df.columns:
            pdf = self._df.orderBy("__ord__").drop("__ord__").toPandas()
        else:
            pdf = self._df.orderBy(IDX).toPandas()
        s = pd.Series(pdf[VAL].values, index=pdf[IDX].values, name=self.name)
        return s

    def _frame(self):
        """This Series as a one-column SparkFrame (its column is VAL)."""
        from sdc_spark.frame.core import SparkFrame

        return SparkFrame(self._df)

    def _rewrap(self, frame, floating: bool | None = None) -> SparkSeries:
        """A one-column frame result as a Series with this one's name."""
        return SparkSeries(
            frame._df, name=self.name, floating=self._floating if floating is None else floating
        )

    # -- elementwise -------------------------------------------------------

    def _unary(self, fn, floating: bool | None = None) -> SparkSeries:
        # an elementwise op keeps the row order, so a carried __ord__ stays
        order = [c for c in self._df.columns if c == "__ord__"]
        return SparkSeries(
            self._df.select(IDX, *order, fn(F.col(VAL)).alias(VAL)),
            name=self.name,
            floating=self._floating if floating is None else floating,
        )

    def abs(self) -> SparkSeries:
        return self._unary(F.abs)

    def astype(self, dtype: str) -> SparkSeries:
        if dtype in ("int", "int64"):
            return self._unary(sexpr.astype_long, floating=False)
        if dtype in ("float", "float64"):
            return self._unary(lambda c: c.cast("double"), floating=True)
        if dtype == "str":
            return self._unary(lambda c: c.cast("string"), floating=False)
        return self._unary(lambda c: c.cast(dtype))

    def isna(self) -> SparkSeries:
        return self._rewrap(self._frame().isna(), floating=False)

    def notna(self) -> SparkSeries:
        return self._unary(lambda c: sexpr.notna(c, self._floating), floating=False)

    def fillna(self, value=None, method: str | None = None) -> SparkSeries:
        if method is not None:
            if method in ("ffill", "pad"):
                return self.ffill()
            if method in ("bfill", "backfill"):
                return self.bfill()
            raise ValueError(f"unsupported fill method {method!r}")
        return self._rewrap(self._frame().fillna({VAL: value}))

    def ffill(self) -> SparkSeries:
        """Forward fill in the current row order — range-partitioned
        carry + P-row boundary broadcast (operators/order.py), no
        single-partition window."""
        return self._rewrap(self._frame().ffill())

    def bfill(self) -> SparkSeries:
        return self._rewrap(self._frame().bfill())

    def interpolate(self, method: str = "linear") -> SparkSeries:
        """pandas Series.interpolate(method='linear'): interior NaN runs
        linear in POSITION (pandas 'linear' assumes equal spacing),
        trailing NaNs forward-filled, leading NaNs left missing
        (limit_direction='forward' default).

        Distributed: ONE scan over one range partition gives each row its
        position and carries struct(position, value) of the nearest valid
        observation forward (``last``) and backward (its suffix), then
        blends by position distance — no single-partition window.
        ``method='nearest'`` snaps to the positionally closer valid
        neighbor (ties -> previous, pandas convention);
        ``'pad'``/``'ffill'`` alias the carry-forward fill."""
        if method in ("pad", "ffill"):
            return self.ffill()
        if method not in ("linear", "nearest"):
            raise NotImplementedError(f"interpolate method {method!r}")
        ok = sexpr.notna(F.col(VAL), self._floating)

        def obs(pos: Column) -> Column:
            return F.when(ok, F.struct(pos.alias("p"), F.col(VAL).alias("v")))

        filled = sorder.scan(
            self._df.select(IDX, VAL),
            [IDX],
            {"__pf__": ("last", obs), "__pb__": ("last", obs, "suffix")},
        )
        pos, pf, pb = F.col(sorder.POS), F.col("__pf__"), F.col("__pb__")
        if method == "nearest":
            blend = F.when((pos - pf["p"]) <= (pb["p"] - pos), pf["v"]).otherwise(pb["v"])
        else:
            blend = pf["v"] + (pb["v"] - pf["v"]) * ((pos - pf["p"]) / (pb["p"] - pf["p"]))
        val = (
            F.when(ok, F.col(VAL))
            .when(pf.isNull(), F.col(VAL))  # leading gap stays missing
            .when(pb.isNull(), pf["v"])  # trailing gap -> ffill
            .otherwise(blend)
        )
        return SparkSeries(
            filled.select(IDX, val.alias(VAL)), name=self.name, floating=True
        )

    def dropna(self) -> SparkSeries:
        return self._rewrap(self._frame().dropna())

    def isin(self, values) -> SparkSeries:
        return self._unary(lambda c: c.isin(*list(values)), floating=False)

    # -- binary ops with index alignment (ref common_functions.py:225-456) --

    def _binary(self, other, fn, fill_value=None) -> SparkSeries:
        if isinstance(other, SparkSeries):
            a = self._df.select(F.col(IDX), F.col(VAL).alias("__l__"))
            b = other._df.select(F.col(IDX), F.col(VAL).alias("__r__"))
            j = a.join(b, on=IDX, how="full")
            lc, rc = F.col("__l__"), F.col("__r__")
            if fill_value is not None:
                lc = F.coalesce(lc, F.lit(fill_value))
                rc = F.coalesce(rc, F.lit(fill_value))
            out = j.select(F.col(IDX), fn(lc, rc).alias(VAL))
            return SparkSeries(out, name=None, floating=True)
        return self._unary(lambda c: fn(c, F.lit(other)))

    def __add__(self, other):
        return self._binary(other, lambda a, b: a + b)

    def add(self, other, fill_value=None):
        return self._binary(other, lambda a, b: a + b, fill_value)

    def __sub__(self, other):
        return self._binary(other, lambda a, b: a - b)

    def sub(self, other, fill_value=None):
        return self._binary(other, lambda a, b: a - b, fill_value)

    def __mul__(self, other):
        return self._binary(other, lambda a, b: a * b)

    def mul(self, other, fill_value=None):
        return self._binary(other, lambda a, b: a * b, fill_value)

    def __truediv__(self, other):
        return self._binary(other, sexpr.pandas_div)

    def div(self, other, fill_value=None):
        return self._binary(other, sexpr.pandas_div, fill_value)

    def __floordiv__(self, other):
        return self._binary(other, sexpr.pandas_floordiv)

    def __mod__(self, other):
        return self._binary(other, sexpr.pandas_mod)

    def __pow__(self, other):
        return self._binary(other, sexpr.pandas_pow)

    def __lt__(self, other):
        return self._binary(other, lambda a, b: a < b)

    def __le__(self, other):
        return self._binary(other, lambda a, b: a <= b)

    def __gt__(self, other):
        return self._binary(other, lambda a, b: a > b)

    def __ge__(self, other):
        return self._binary(other, lambda a, b: a >= b)

    def __eq__(self, other):  # type: ignore[override]
        return self._binary(other, lambda a, b: a == b)

    def __ne__(self, other):  # type: ignore[override]
        return self._binary(other, lambda a, b: a != b)

    def __and__(self, other):
        return self._binary(other, lambda a, b: a & b)

    def __or__(self, other):
        return self._binary(other, lambda a, b: a | b)

    def __invert__(self):
        return self._unary(lambda c: ~c)

    # reflected ops: scalar `other` only (2 + s, 3.0 / s, ...) — Series
    # lhs always dispatches to the normal methods first
    def __radd__(self, other):
        return self._unary(lambda c: F.lit(other) + c)

    def __rsub__(self, other):
        return self._unary(lambda c: F.lit(other) - c)

    def __rmul__(self, other):
        return self._unary(lambda c: F.lit(other) * c)

    def __rtruediv__(self, other):
        return self._unary(lambda c: sexpr.pandas_div(F.lit(other), c), floating=True)

    def __rfloordiv__(self, other):
        return self._unary(lambda c: sexpr.pandas_floordiv(F.lit(other), c))

    def __rmod__(self, other):
        return self._unary(lambda c: sexpr.pandas_mod(F.lit(other), c))

    def __rpow__(self, other):
        return self._unary(lambda c: sexpr.pandas_pow(F.lit(other), c))

    # -- reductions (ref §2.4) --------------------------------------------

    def _reduce(self, fn) -> Any:
        """``fn`` (Column -> aggregate Column) over the non-missing values:
        the frame's reduction kernel on this one column."""
        return self._frame()._reduce(fn, [VAL])[VAL]

    def sum(self):
        return self._reduce(F.sum)

    def prod(self):
        return self._reduce(F.product)

    def min(self):
        return self._reduce(F.min)

    def max(self):
        return self._reduce(F.max)

    def mean(self):
        return self._reduce(F.avg)

    def median(self):
        return self._reduce(F.median)

    def std(self, ddof: int = 1):
        return self._reduce(F.stddev_samp if ddof == 1 else F.stddev_pop)

    def var(self, ddof: int = 1):
        return self._reduce(F.var_samp if ddof == 1 else F.var_pop)

    def count(self) -> int:
        return self._reduce(F.count)

    def nunique(self, dropna: bool = True) -> int:
        """ref …series_functions.py:3513 — dropna=False counts the null/NaN
        group as one extra distinct value when present."""
        return int(self._frame().nunique(dropna)[VAL])

    def quantile(self, q: float, approx: bool = False, accuracy: int = 10000):
        """Exact linear-interpolation quantile (pandas). ``approx=True``
        switches to approx_percentile (SURVEY §7: exact percentile builds a
        full per-group sort buffer; the sketch path is the 100 TB
        default-off fast path, error ≤ 1/accuracy)."""
        if approx:
            return self._reduce(lambda v: F.approx_percentile(v, F.lit(q), F.lit(accuracy)))
        return self._reduce(lambda v: F.percentile(v, F.lit(q)))

    def skew(self):
        def fn(v):
            n = F.count(v)
            return F.skewness(v) * F.sqrt(n * (n - 1)) / (n - 2)

        return self._reduce(fn)

    def corr(self, other: SparkSeries, method: str = "pearson"):
        """pandas Series.corr (ref …series_functions.py corr): pearson via
        the JVM corr aggregate; spearman as pearson over average ranks
        (pandas' tie rule) — both null-pair-skipping, one join + one
        aggregate, no driver-side alignment."""
        if method == "spearman":
            # rank over the NON-NULL pairs only (pandas drops the pair
            # first, then ranks) — a null on either side excludes the row.
            # Average rank of value v is a pure function of the VALUE
            # histogram: rank(v) = #smaller + (#ties + 1)/2. So instead of
            # two row-level position passes + an IDX re-join, each side is
            # one map-side-combined groupBy(value) count, a prefix scan
            # over the (much smaller) distinct-value table, and a join of
            # the per-value rank back onto the pair set — AQE broadcasts
            # it when small; at 100 TB continuous keys it degrades to a
            # shuffled join on the same key. The pair set is materialized
            # ONCE and feeds both sides and the final corr — zero
            # re-execution of the upstream join/scan.
            from sdc_spark.materialize import materialize as _mat

            j = self._df.select(IDX, F.col(VAL).alias("__l__")).join(
                other._df.select(IDX, F.col(VAL).alias("__r__")), IDX, "inner"
            ).filter(
                sexpr.notna(F.col("__l__"), self._floating)
                & sexpr.notna(F.col("__r__"), other._floating)
            )
            j = _mat(j.select("__l__", "__r__"))

            def _val_ranks(col: str, out: str):
                cnts = j.groupBy(col).agg(F.count(F.lit(1)).alias("__c__"))
                cum = sorder.scan(cnts, [col], {"__cum__": ("sum", F.col("__c__"))})
                return cum.select(
                    col,
                    (
                        F.col("__cum__")
                        - F.col("__c__")
                        + (F.col("__c__") + 1) / 2.0
                    ).alias(out),
                )

            ranked = j.join(_val_ranks("__l__", "__rl__"), "__l__").join(
                _val_ranks("__r__", "__rr__"), "__r__"
            )
            return ranked.agg(F.corr("__rl__", "__rr__").alias("r")).collect()[0]["r"]
        if method != "pearson":
            raise ValueError(f"unsupported corr method {method!r}")
        j = self._df.select(IDX, F.col(VAL).alias("__l__")).join(
            other._df.select(IDX, F.col(VAL).alias("__r__")), IDX, "inner"
        )
        return j.agg(F.corr("__l__", "__r__").alias("r")).collect()[0]["r"]

    def cov(self, other: SparkSeries):
        j = self._df.select(IDX, F.col(VAL).alias("__l__")).join(
            other._df.select(IDX, F.col(VAL).alias("__r__")), IDX, "inner"
        )
        return j.agg(F.covar_samp("__l__", "__r__").alias("r")).collect()[0]["r"]

    def explode(self) -> SparkSeries:
        """pandas Series.explode: one row per array element, index labels
        repeat, empty/null arrays yield one null row (explode_outer)."""
        return SparkSeries(
            self._df.select(IDX, F.explode_outer(F.col(VAL)).alias(VAL)),
            name=self.name,
        )

    def idxmax(self):
        return self._reduce(lambda v: F.max_by(F.col(IDX), v))

    def idxmin(self):
        return self._reduce(lambda v: F.min_by(F.col(IDX), v))

    def where(self, cond: SparkSeries, other=None) -> SparkSeries:
        """Keep values where cond holds, else ``other`` (default null/NaN) —
        pandas Series.where. ``other`` may be a scalar or an index-aligned
        SparkSeries (one more left join on __index__)."""
        c = cond._df.select(F.col(IDX), F.col(VAL).alias("__c__"))
        j = self._df.join(c, IDX, "left")
        if isinstance(other, SparkSeries):
            o = other._df.select(F.col(IDX), F.col(VAL).alias("__o__"))
            j = j.join(o, IDX, "left")
            fallback = F.col("__o__")
        else:
            fallback = F.lit(other)
        return SparkSeries(
            j.select(
                IDX,
                F.when(F.col("__c__"), F.col(VAL)).otherwise(fallback).alias(VAL),
            ),
            name=self.name,
            floating=self._floating,
        )

    def mask(self, cond: SparkSeries, other=None) -> SparkSeries:
        return self.where(~cond, other)

    def set_where(self, cond: SparkSeries, value) -> SparkSeries:
        """series[cond] = value (ref setitem overloads
        …series_functions.py:500-833) — immutable result, reference-style
        no-reflection semantics."""
        return self.mask(cond, value)

    # -- order-dependent ops (distributed total order: operators/order.py —
    # range partition + boundary fix-up, never a full-data single
    # partition) ------------------------------------------------------------

    def shift(self, periods: int = 1, fill_value=None) -> SparkSeries:
        return self._rewrap(self._frame().shift(periods, fill_value))

    def _monotonic(self, increasing: bool) -> bool:
        """One boundary-context pass: any adjacent inversion (or missing
        value — pandas returns False then) anywhere falsifies."""
        out = sorder.shifted(self._df, [IDX], {"__sh__": F.col(VAL)}, 1)
        inv = F.col(VAL) < F.col("__sh__") if increasing else F.col(VAL) > F.col("__sh__")
        bad = F.when(~sexpr.notna(F.col(VAL), self._floating), True).otherwise(inv)
        row = out.agg(F.count(F.when(bad, 1)).alias("n")).collect()[0]
        return row["n"] == 0

    @property
    def is_monotonic_increasing(self) -> bool:
        return self._monotonic(True)

    @property
    def is_monotonic_decreasing(self) -> bool:
        return self._monotonic(False)

    @property
    def is_unique(self) -> bool:
        """pandas series.is_unique: no value occurs twice (NaNs compare
        equal to each other, as pandas counts them). One aggregate."""
        row = self._df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(VAL)).alias("d"),
            F.count(F.when(~sexpr.notna(F.col(VAL), self._floating), 1)).alias("na"),
        ).collect()[0]
        distinct_with_na = row["d"] + (1 if row["na"] else 0)
        return row["n"] == distinct_with_na and row["na"] <= 1

    @property
    def hasnans(self) -> bool:
        row = self._df.agg(
            F.count(F.when(~sexpr.notna(F.col(VAL), self._floating), 1)).alias("na")
        ).collect()[0]
        return row["na"] > 0

    @property
    def empty(self) -> bool:
        return self._df.limit(1).count() == 0

    def autocorr(self, lag: int = 1) -> float:
        """pandas Series.autocorr — Pearson correlation with the
        lag-shifted self. One boundary-context pass builds the pair;
        F.corr's pairwise-complete null handling matches pandas."""
        masked = self._df.select(
            IDX, F.when(sexpr.notna(F.col(VAL), self._floating), F.col(VAL)).alias(VAL)
        )
        out = sorder.shifted(masked, [IDX], {"__sh__": F.col(VAL)}, lag)
        row = out.agg(F.corr(F.col(VAL), F.col("__sh__")).alias("c")).collect()[0]
        return float("nan") if row["c"] is None else row["c"]

    def cumsum(self) -> SparkSeries:
        return self._rewrap(self._frame().cumsum())

    def cummax(self) -> SparkSeries:
        return self._rewrap(self._frame().cummax())

    def cummin(self) -> SparkSeries:
        return self._rewrap(self._frame().cummin())

    def cumprod(self) -> SparkSeries:
        return self._rewrap(self._frame()._cum("prod"))

    def pct_change(
        self, periods: int = 1, fill_method: str | None = "pad"
    ) -> SparkSeries:
        """Fractional change vs the value ``periods`` back (ref
        …series_functions.py:4233 carries the full signature).
        ``fill_method`` fills missing values BEFORE differencing (pandas
        classic default 'pad'); None leaves gaps NaN-propagating."""
        return self._rewrap(self._frame().pct_change(periods, fill_method), floating=True)

    def reindex(self, labels) -> SparkSeries:
        """Conform to a new index (ref common_functions.py:603-695): result
        holds one row per requested label, missing labels -> NaN, in the
        order given. Labels are a driver-side list (pandas signature); the
        gather itself is a broadcast join, no collect of self."""
        labels = list(labels)
        spark = self._df.sparkSession
        from sdc_spark.sources.readers import local_rows

        tgt = local_rows(
            spark,
            [(lab, i) for i, lab in enumerate(labels)],
            self._df.select(F.col(IDX)).withColumn("__ord__", F.lit(0)).schema,
        )
        out = tgt.join(self._df.select(IDX, VAL), IDX, "left")
        numeric = dict(self._df.dtypes)[VAL] not in ("string", "boolean", "binary")
        return SparkSeries(
            out.select(IDX, VAL, "__ord__"),
            name=self.name,
            floating=numeric or self._floating,
        )

    def _ordered(self, *keys) -> SparkSeries:
        """Attach a 1-based global rank column __ord__ in (keys) order."""
        out = sorder.with_position(
            self._df.drop("__ord__") if "__ord__" in self._df.columns else self._df,
            list(keys),
            "__ord__",
        ).select(IDX, VAL, (F.col("__ord__") + 1).alias("__ord__"))
        return SparkSeries(out, name=self.name, floating=self._floating)

    def sort_values(self, ascending: bool = True) -> SparkSeries:
        """NaNs forced last regardless of direction (ref TBB sort kernels,
        sdc/native/sort.cpp:43-128)."""
        key = F.col(VAL).asc_nulls_last() if ascending else F.col(VAL).desc_nulls_last()
        if self._floating:
            nan_last = F.when(F.isnan(VAL) | F.col(VAL).isNull(), 1).otherwise(0).asc()
            return self._ordered(nan_last, key, F.col(IDX))
        return self._ordered(key, F.col(IDX))

    def nlargest(self, n: int = 5) -> SparkSeries:
        return self._rewrap(self._frame().nlargest(n, VAL))

    def nsmallest(self, n: int = 5) -> SparkSeries:
        return self._rewrap(self._frame().nsmallest(n, VAL))

    def head(self, n: int = 5) -> SparkSeries:
        return self._rewrap(self._frame().head(n))

    def unique(self) -> list:
        """pandas parity: returns a driver-side list (pandas returns an
        ndarray). Scale warning: this collects every DISTINCT value to
        the driver — fine for categorical/dim columns, a driver OOM on a
        high-cardinality key at 100 TB; use ``._df.select(VAL).distinct()``
        (stays distributed) when the result feeds another plan."""
        return [r[0] for r in self._df.select(VAL).distinct().collect()]

    def value_counts(
        self,
        normalize: bool = False,
        sort: bool = True,
        ascending: bool = False,
        dropna: bool = True,
    ):
        """Returns a SparkSeries keyed by value. pandas tie order is first
        appearance (hashtable insertion order) — reproduced distributively
        as min(original index) per value (ref …series_functions.py:1375).
        ``sort=False`` keeps first-appearance order; ``dropna=False`` adds
        the null/NaN group (NaN normalized to null so it forms ONE group);
        ``normalize=True`` divides by the total via a 1-row broadcast (no
        second pass over the data).
        """
        base = self._df
        if dropna:
            base = base.filter(sexpr.notna(F.col(VAL), self._floating))
        key = (
            F.when(sexpr.notna(F.col(VAL), self._floating), F.col(VAL))
            if self._floating
            else F.col(VAL)
        )
        base = base.select(key.alias("__key__"), F.col(IDX).alias("__oi__"))
        if sort:
            order = [
                F.col("__cnt__").asc() if ascending else F.col("__cnt__").desc(),
                F.col("__first__").asc(),
            ]
        else:
            order = [F.col("__first__").asc()]
        grouped = base.groupBy("__key__").agg(
            F.count(F.lit(1)).alias("__cnt__"), F.min("__oi__").alias("__first__")
        )
        if normalize:
            tot = grouped.agg(F.sum("__cnt__").alias("__tot__"))
            grouped = grouped.join(F.broadcast(tot)).select(
                "__key__",
                (F.col("__cnt__").cast("double") / F.col("__tot__")).alias("__p__"),
                "__cnt__",
                "__first__",
            )
        counted = sorder.with_position(grouped, order, "__ord__").select(
            F.col("__key__").alias(IDX),
            (F.col("__p__") if normalize else F.col("__cnt__")).alias(VAL),
            (F.col("__ord__") + 1).alias("__ord__"),
        )
        return SparkSeries(
            counted,
            name="proportion" if normalize else "count",
            floating=normalize,
        )

    # -- rolling / map / apply --------------------------------------------

    def expanding(self, min_periods: int = 1):
        """pandas Series.expanding — growing prefix windows. Kernels are
        decomposed into distributed prefix scans (operators/order.py), so
        the global unbounded-preceding frame never runs on one partition:
        sum/count directly, mean = sum/count, var/std from (Σx, Σx², n).
        Median/quantile are not sum-decomposable; they run on the
        value-bucketed prefix-histogram scan (operators/order.py
        scan_quantile) — exact when the column has <= max_buckets distinct
        values, bounded rank error otherwise."""
        from sdc_spark.frame.rolling import SeriesExpanding

        return SeriesExpanding(self, min_periods)

    def rolling(
        self,
        window: int,
        min_periods: int | None = None,
        center: bool = False,
        win_type=None,
        closed: str = "right",
    ):
        """ref RollingType carries `center`/`win_type` (sdc/datatypes/
        hpat_pandas_rolling_types.py:36-72) though its kernels only do
        trailing unweighted windows — we support center and closed
        (frame-bound arithmetic; pandas-differential-tested); win_type
        raises loudly."""
        from sdc_spark.frame.rolling import SeriesRolling

        return SeriesRolling(self, window, min_periods, center, win_type, closed)

    def resample(self, rule: str):
        """pandas Series.resample over a datetime index: floor the index
        to rule-aligned buckets, aggregate per bucket (one map-side-combined
        shuffle), dense axis with empty buckets (count -> 0, else null)."""
        from sdc_spark.frame.resample import SeriesResampler

        return SeriesResampler(self._df.select(IDX, VAL), IDX, rule, [VAL])

    def ewm(
        self,
        com: float | None = None,
        span: float | None = None,
        halflife: float | None = None,
        alpha: float | None = None,
        min_periods: int = 0,
    ):
        """pandas Series.ewm (adjust=True, ignore_na=False). The reference
        only cross-references ewm in its rolling docs
        (hpat_pandas_rolling_types.py:204) without implementing it; here
        mean/var/std run distributed on the segmented decay scan
        (order.scan_ewm with no group keys — a linear recurrence carried
        across range partitions by a few decayed sums per partition)."""
        import math

        given = [x is not None for x in (com, span, halflife, alpha)]
        if sum(given) != 1:
            raise ValueError("exactly one of com/span/halflife/alpha required")
        if com is not None:
            a = 1.0 / (1.0 + com)
        elif span is not None:
            a = 2.0 / (span + 1.0)
        elif halflife is not None:
            a = 1.0 - math.exp(-math.log(2.0) / halflife)
        else:
            a = float(alpha)
        from sdc_spark.frame.rolling import SeriesEwm

        return SeriesEwm(self, a, min_periods)

    def map(
        self, arg, dtype: str | None = None, na_action: str | None = None
    ) -> SparkSeries:
        """dict → literal map lookup (JVM); callable → Arrow pandas UDF
        (ref pandas_series_functions/map.py:38-115).

        ``dtype`` declares the callable's return type (Spark DDL). Default
        None reuses the input column's type — no driver-side probe action
        at expression-build time; pass dtype explicitly for
        type-changing callables (pandas infers from the materialized
        result, which a lazy engine must not compute eagerly).

        ``na_action='ignore'`` propagates nulls without calling the
        mapper (pandas parity); for the dict form this is a no-op (a
        null key never matches a map literal)."""
        if na_action not in (None, "ignore"):
            raise ValueError(f"na_action must be None or 'ignore', got {na_action!r}")
        if isinstance(arg, dict):
            mapping = F.create_map(*[F.lit(x) for kv in arg.items() for x in kv])
            return self._unary(lambda c: mapping.getItem(c))
        rt = dtype if dtype is not None else dict(self._df.dtypes)[VAL]

        @F.pandas_udf(rt)
        def udf(s: pd.Series) -> pd.Series:
            return s.map(arg, na_action=na_action)

        return self._unary(udf, floating=rt in ("double", "float"))

    def apply(self, func, dtype: str | None = None, args: tuple = (), **kwargs) -> SparkSeries:
        """pandas Series.apply with the reference's ``args=`` passthrough
        (ref sdc/datatypes/pandas_series_functions/apply.py:38-120):
        positional ``args`` and ``**kwargs`` are closed over and forwarded
        to ``func`` per element, Arrow-batched like map."""
        if args or kwargs:
            return self.map(lambda v: func(v, *args, **kwargs), dtype)
        return self.map(func, dtype)

    def append(self, other: SparkSeries, ignore_index: bool = False) -> SparkSeries:
        """Concatenate two series (ref …series_functions.py append overload;
        §2.8). ignore_index=False keeps (possibly duplicate) labels;
        ignore_index=True assigns fresh positions 0..n-1 in concatenation
        order (self first), via the distributed position machinery."""
        a = self._df.select(IDX, VAL).withColumn("__src__", F.lit(0))
        b = other._df.select(IDX, VAL).withColumn("__src__", F.lit(1))
        u = a.unionByName(b)
        if not ignore_index:
            return SparkSeries(
                u.select(IDX, VAL),
                name=self.name,
                floating=self._floating or other._floating,
            )
        pos = sorder.with_position(u, ["__src__", IDX], "__p__")
        return SparkSeries(
            pos.select(F.col("__p__").alias(IDX), VAL),
            name=self.name,
            floating=self._floating or other._floating,
        )

    # -- positional / label access (ref …series_functions.py:85-499,
    # 834-1085, 2651, 3735) -------------------------------------------------

    @property
    def iloc(self):
        return _SeriesILoc(self)

    @property
    def loc(self):
        return _SeriesLoc(self)

    def iat(self, pos: int):
        return self._frame().iloc(pos)[VAL]

    def at(self, label):
        rows = self._df.filter(F.col(IDX) == F.lit(label)).select(VAL).take(1)
        if not rows:
            raise KeyError(label)
        return rows[0][0]

    def take(self, indices) -> SparkSeries:
        """Positional gather in the requested order (ref
        …series_functions.py:2651): SparkFrame.take on this column."""
        return self._rewrap(self._frame().take(indices))

    def argsort(self) -> SparkSeries:
        """ref …series_functions.py:3735 / pandas 2.x: result position i
        holds the original POSITION of the i-th smallest value, NaNs sorted
        last (numpy convention), index labels unchanged."""
        base = sorder.with_position(self._df.select(IDX, VAL), [IDX], "__pos__")
        nan_last = (
            [F.when(F.isnan(VAL) | F.col(VAL).isNull(), 1).otherwise(0).asc()]
            if self._floating
            else []
        )
        ranked = sorder.with_position(
            base,
            [*nan_last, F.col(VAL).asc_nulls_last(), F.col("__pos__").asc()],
            "__r__",
        )
        a = base.select(F.col(IDX), F.col("__pos__").alias("__j__"))
        b = ranked.select(F.col("__r__").alias("__j__"), F.col("__pos__").alias(VAL))
        out = a.join(b, "__j__").select(
            IDX, VAL, F.col("__j__").alias("__ord__")
        )
        return SparkSeries(out, name=self.name, floating=False)

    def __getitem__(self, key):
        if isinstance(key, SparkSeries):  # boolean mask, aligned on index
            m = key._df.select(F.col(IDX), F.col(VAL).alias("__m__"))
            kept = self._df.join(m, IDX, "inner").filter(F.col("__m__")).drop("__m__")
            return SparkSeries(kept, name=self.name, floating=self._floating)
        if isinstance(key, slice):  # positional, pandas s[a:b] semantics
            return self.iloc[key]
        if isinstance(key, list):  # label list
            return self.loc[key]
        return self.at(key)

    # -- groupby (ref …series_functions.py:4720) ----------------------------

    def groupby(self, by: SparkSeries):
        """series.groupby(by=series): align on __index__ (inner), group on
        the by-series values; null/NaN keys dropped (pandas default)."""
        k = by._df.select(
            F.col(IDX),
            F.when(sexpr.notna(F.col(VAL), by._floating), F.col(VAL)).alias("__key__"),
        )
        j = self._df.select(IDX, VAL).join(k, IDX, "inner").filter(
            F.col("__key__").isNotNull()
        )
        return SeriesGroupBy(j, self.name, self._floating)

    # -- small surface (ref …series_functions.py: align/rename/copy/
    # isnull/notnull/ndim/shape/index/values/describe) ----------------------

    @property
    def T(self) -> SparkSeries:  # noqa: N802  (pandas attribute name)
        """Series transpose is the identity (ref …series_functions.py T)."""
        return self

    @property
    def ndim(self) -> int:
        return 1

    @property
    def shape(self) -> tuple[int]:
        return (len(self),)

    @property
    def index(self):
        """Lazy index handle: building it is free; the labels are only
        collected to the driver when the contents are actually inspected
        (iteration/len/comparison/tolist) — an attribute access on a
        10^11-row series no longer implies a full-column collect."""
        return LazyIndex(self._df.select(IDX).orderBy(IDX))

    @property
    def values(self):
        return self.to_pandas().values

    def copy(self) -> SparkSeries:
        return SparkSeries(self._df, name=self.name, floating=self._floating)

    def rename(self, name: str) -> SparkSeries:
        return SparkSeries(self._df, name=name, floating=self._floating)

    def isnull(self) -> SparkSeries:
        return self.isna()

    def notnull(self) -> SparkSeries:
        return self.notna()

    def diff(self, periods: int = 1) -> SparkSeries:
        """x - shift(x, periods) — NaN-propagating first differences."""
        return self._rewrap(self._frame().diff(periods), floating=True)

    def clip(self, lower=None, upper=None) -> SparkSeries:
        def f(c):
            v = c
            if lower is not None:
                v = F.greatest(v, F.lit(lower))
            if upper is not None:
                v = F.least(v, F.lit(upper))
            # greatest/least treat NaN as largest and skip nulls — pandas
            # clip propagates missing values unchanged
            return F.when(sexpr.notna(c, self._floating), v).otherwise(c)

        return self._unary(f)

    def round(self, decimals: int = 0) -> SparkSeries:
        return self._unary(lambda c: F.round(c, decimals))

    def between(self, left, right, inclusive: str = "both") -> SparkSeries:
        def f(c):
            lo = c >= left if inclusive in ("both", "left") else c > left
            hi = c <= right if inclusive in ("both", "right") else c < right
            # missing values compare False in pandas, not NULL
            return F.coalesce(
                F.when(sexpr.notna(c, self._floating), lo & hi), F.lit(False)
            )

        return self._unary(f, floating=False)

    def rank(
        self, method: str = "average", ascending: bool = True, pct: bool = False
    ) -> SparkSeries:
        """pandas rank: per-value average (default) / min / max / dense of
        1-based positions; NaN keeps NaN; ``pct=True`` divides by the
        non-null count (dense: by the distinct count, as pandas does).
        Distributed: global positions by value order, then a per-value
        aggregate joined back — two hash shuffles, no single partition."""
        if method not in ("average", "min", "max", "dense"):
            raise ValueError(f"unsupported rank method {method!r}")
        valid = self._df.filter(sexpr.notna(F.col(VAL), self._floating))
        key = F.col(VAL).asc() if ascending else F.col(VAL).desc()
        pos = sorder.with_position(valid, [key, F.col(IDX)], "__p__")
        if method == "dense":
            dense = (
                valid.select(VAL)
                .distinct()
                .transform(lambda d: sorder.with_position(d, [key], "__r__"))
                .select(VAL, (F.col("__r__") + 1).cast("double").alias("__rk__"))
            )
            ranked = pos.join(dense, VAL)
        else:
            agg = {"average": F.avg, "min": F.min, "max": F.max}[method]
            per_val = pos.groupBy(VAL).agg(
                (agg(F.col("__p__") + 1)).cast("double").alias("__rk__")
            )
            ranked = pos.join(per_val, VAL)
        if pct:
            denom = (
                valid.select(VAL).distinct().count()
                if method == "dense"
                else valid.count()
            )
            ranked = ranked.withColumn("__rk__", F.col("__rk__") / F.lit(float(denom)))
        out = self._df.select(IDX).join(
            ranked.select(IDX, F.col("__rk__")), IDX, "left"
        )
        keep = (
            F.when(F.col("__rk__").isNotNull(), F.col("__rk__")).otherwise(
                F.lit(float("nan"))
            )
            if self._floating
            else F.col("__rk__")
        )
        return SparkSeries(
            out.select(IDX, keep.alias(VAL)), name=self.name, floating=True
        )

    def drop_duplicates(self, keep: str = "first") -> SparkSeries:
        """Distinct values keeping the first (min-index) occurrence."""
        return self._rewrap(self._frame().drop_duplicates(keep=keep))

    def duplicated(self, keep: str | bool = "first") -> SparkSeries:
        """pandas series.duplicated: SparkFrame.duplicated on this column."""
        return self._rewrap(self._frame().duplicated(keep=keep), floating=False)

    def mode(self) -> SparkSeries:
        """pandas series.mode: every maximally-frequent value, ascending.
        One hash aggregate + a 1-row broadcast max join — no global sort
        of the data, only of the (tiny) modal set."""
        counts = self._df.groupBy(VAL).agg(F.count(F.lit(1)).alias("__n__"))
        mx = counts.agg(F.max("__n__").alias("__mx__"))
        modes = (
            counts.join(F.broadcast(mx), counts["__n__"] == F.col("__mx__"))
            .select(VAL)
        )
        w = sorder.with_position(modes, [VAL], "__pos__")
        return SparkSeries(
            w.select(F.col("__pos__").alias(IDX), F.col(VAL)),
            name=self.name,
            floating=self._floating,
        )

    def cut(self, bins: list[float], labels: list | None = None) -> SparkSeries:
        """pd.cut with explicit edges: right-closed intervals (lo, hi] —
        values outside the span map to null, like pandas. Bucket index is
        a row-local when-chain over literal edges; zero shuffle."""
        expr = F.lit(None).cast("int")
        for i in range(len(bins) - 1, 0, -1):
            expr = F.when(
                (F.col(VAL) > F.lit(float(bins[i - 1])))
                & (F.col(VAL) <= F.lit(float(bins[i]))),
                F.lit(i - 1),
            ).otherwise(expr)
        if labels is not None:
            lab = F.array(*[F.lit(x) for x in labels])
            expr = F.when(expr.isNotNull(), F.element_at(lab, expr + 1))
        return SparkSeries(
            self._df.select(IDX, expr.alias(VAL)), name=self.name, floating=False
        )

    def qcut(self, q: int) -> SparkSeries:
        """pd.qcut(q): quantile binning — exact interior boundaries from
        ONE percentile aggregate (broadcast back as a 1-row join), bucket
        assignment row-local: bucket = #{interior boundaries < value}.
        No global window/ntile — the corpus never single-partitions."""
        qs = [i / q for i in range(1, q)]
        bounds = self._df.agg(
            F.percentile(F.col(VAL).cast("double"), qs).alias("__b__")
        )
        b = self._df.join(F.broadcast(bounds))
        bucket = F.aggregate(
            F.col("__b__"),
            F.lit(0),
            lambda acc, e: acc + F.when(F.col(VAL) > e, 1).otherwise(0),
        )
        val = F.when(F.col(VAL).isNotNull(), bucket)
        return SparkSeries(
            b.select(IDX, val.alias(VAL)), name=self.name, floating=False
        )

    def combine_first(self, other: SparkSeries) -> SparkSeries:
        """pandas combine_first: self's values, holes patched from other —
        a coalesce over the full-outer index alignment (one join on the
        index, same plan class as every aligned binop)."""
        a = self._df.select(F.col(IDX), F.col(VAL).alias("__a__"))
        b = other._df.select(F.col(IDX), F.col(VAL).alias("__b__"))
        j = a.join(b, IDX, "full")
        av = F.when(sexpr.notna(F.col("__a__"), self._floating), F.col("__a__"))
        return SparkSeries(
            j.select(IDX, F.coalesce(av, F.col("__b__")).alias(VAL)),
            name=self.name,
            floating=True,
        )

    def align(self, other: SparkSeries) -> tuple[SparkSeries, SparkSeries]:
        """Full-outer index alignment (ref common_functions.py
        _sdc_internal_join / series align)."""
        a = self._df.select(F.col(IDX), F.col(VAL).alias("__l__"))
        b = other._df.select(F.col(IDX), F.col(VAL).alias("__r__"))
        j = a.join(b, IDX, "full")
        return (
            SparkSeries(
                j.select(IDX, F.col("__l__").alias(VAL)),
                name=self.name,
                floating=True,
            ),
            SparkSeries(
                j.select(IDX, F.col("__r__").alias(VAL)),
                name=other.name,
                floating=True,
            ),
        )

    def describe(self) -> pd.Series:
        """Series describe (ref …series_functions.py:4351): numeric ->
        count/mean/std/min/25%/50%/75%/max; string -> count/unique/top/freq
        (SparkFrame.describe on this column)."""
        strings = dict(self._df.dtypes)[VAL] == "string"
        got = self._frame().describe(include="object" if strings else None)
        return got[VAL].rename(self.name)

    # -- accessors ---------------------------------------------------------

    @property
    def str(self):
        return _StrAccessor(self)

    @property
    def dt(self):
        return _DtAccessor(self)


class _StrAccessor:
    """series.str — dispatches to sdc_spark.functions.strings builders."""

    def __init__(self, s: SparkSeries):
        self._s = s

    def _wrap(self, fn, floating: bool = False) -> SparkSeries:
        return self._s._unary(fn, floating=floating)

    def lower(self):
        return self._wrap(sstr.lower)

    def upper(self):
        return self._wrap(sstr.upper)

    def len(self):
        return self._wrap(sstr.length)

    def strip(self):
        return self._wrap(sstr.strip)

    def lstrip(self):
        return self._wrap(sstr.lstrip)

    def rstrip(self):
        return self._wrap(sstr.rstrip)

    def capitalize(self):
        return self._wrap(sstr.capitalize)

    def title(self):
        return self._wrap(sstr.title)

    def swapcase(self):
        return self._wrap(sstr.swapcase)

    def casefold(self):
        return self._wrap(sstr.casefold)

    def startswith(self, pat):
        return self._wrap(lambda c: sstr.startswith(c, pat))

    def endswith(self, pat):
        return self._wrap(lambda c: sstr.endswith(c, pat))

    def contains(self, pat, regex=True):
        return self._wrap(lambda c: sstr.contains(c, pat, regex))

    def find(self, sub):
        return self._wrap(lambda c: sstr.find(c, sub))

    def extract(self, pat, group: int = 1):
        return self._wrap(lambda c: sstr.extract(c, pat, group))

    def count(self, pat):
        return self._wrap(lambda c: sstr.count_matches(c, pat))

    def replace(self, pat, repl, regex=False):
        return self._wrap(lambda c: sstr.replace(c, pat, repl, regex))

    def split(self, pat: str | None = None, regex: bool = False):
        """pandas str.split -> array<string> series (ref str_ext.py:125-214
        scalar split lifted elementwise). Default pat=None splits on
        whitespace runs with empty-edge trimming, like CPython str.split."""
        s = self._s

        def f(c):
            if pat is None:
                return F.split(F.trim(c), r"\s+")
            p = pat if regex else re.escape(pat)
            return F.split(c, p)

        return s._unary(f, floating=False)

    def join(self, sep: str):
        """pandas str.join over an array-of-strings series (complement of
        split; ref str_ext.py:261-276)."""
        return self._s._unary(lambda c: F.array_join(c, sep), floating=False)

    def ljust(self, width, fillchar=" "):
        return self._wrap(lambda c: sstr.ljust(c, width, fillchar))

    def rjust(self, width, fillchar=" "):
        return self._wrap(lambda c: sstr.rjust(c, width, fillchar))

    def center(self, width, fillchar=" "):
        return self._wrap(lambda c: sstr.center(c, width, fillchar))

    def zfill(self, width):
        return self._wrap(lambda c: sstr.zfill(c, width))

    def isalpha(self):
        return self._wrap(sstr.isalpha)

    def isdigit(self):
        return self._wrap(sstr.isdigit)

    def isalnum(self):
        return self._wrap(sstr.isalnum)

    def islower(self):
        return self._wrap(sstr.islower)

    def isupper(self):
        return self._wrap(sstr.isupper)

    def isspace(self):
        return self._wrap(sstr.isspace)

    def istitle(self):
        return self._wrap(sstr.istitle)

    def isnumeric(self):
        return self._wrap(sstr.isnumeric)

    def isdecimal(self):
        return self._wrap(sstr.isdecimal)


class _DtAccessor:
    """series.dt — datetime field extraction (ref pd_timestamp_ext.py:120-160
    via sdc_spark.functions.dt, pandas numbering conventions)."""

    def __init__(self, s: SparkSeries):
        self._s = s

    def _wrap(self, fn) -> SparkSeries:
        return self._s._unary(fn, floating=False)

    @property
    def year(self):
        return self._wrap(sdt.year)

    @property
    def month(self):
        return self._wrap(sdt.month)

    @property
    def day(self):
        return self._wrap(sdt.day)

    @property
    def hour(self):
        return self._wrap(sdt.hour)

    @property
    def minute(self):
        return self._wrap(sdt.minute)

    @property
    def second(self):
        return self._wrap(sdt.second)

    @property
    def microsecond(self):
        return self._wrap(sdt.microsecond)

    @property
    def quarter(self):
        return self._wrap(sdt.quarter)

    @property
    def dayofyear(self):
        return self._wrap(sdt.dayofyear)

    @property
    def dayofweek(self):
        return self._wrap(sdt.dayofweek)

    weekday = dayofweek

    @property
    def date(self):
        return self._wrap(sdt.date)

    @property
    def is_month_start(self):
        return self._wrap(sdt.is_month_start)

    @property
    def is_month_end(self):
        return self._wrap(sdt.is_month_end)


class _SeriesILoc:
    """series.iloc — positional access (ref …series_functions.py:834-961)."""

    def __init__(self, s: SparkSeries):
        self._s = s

    def __getitem__(self, key):
        s = self._s
        if isinstance(key, int):
            return s.iat(key)
        if isinstance(key, slice):
            return s._rewrap(s._frame()._islice(key))
        if isinstance(key, (list, tuple)):
            return s.take(list(key))
        if isinstance(key, SparkSeries):  # boolean mask by position order
            return s[key]
        raise TypeError(f"unsupported iloc key {type(key)}")


class _SeriesLoc:
    """series.loc — label access (ref …series_functions.py:962-1085)."""

    def __init__(self, s: SparkSeries):
        self._s = s

    def __getitem__(self, key):
        s = self._s
        if isinstance(key, slice):  # label slice, stop-INCLUSIVE (pandas)
            cond = F.lit(True)
            if key.start is not None:
                cond = cond & (F.col(IDX) >= F.lit(key.start))
            if key.stop is not None:
                cond = cond & (F.col(IDX) <= F.lit(key.stop))
            return SparkSeries(s._df.filter(cond), name=s.name, floating=s._floating)
        if isinstance(key, (list, tuple)):
            out = s._df.filter(F.col(IDX).isin(list(key)))
            return SparkSeries(out, name=s.name, floating=s._floating)
        if isinstance(key, SparkSeries):  # boolean mask
            return s[key]
        return s.at(key)


class SeriesGroupBy:
    """Grouped series aggregations (ref …series_functions.py:4720-4875):
    one hash-shuffle groupBy on the key values; result is a SparkSeries
    indexed by group key."""

    def __init__(self, df: DataFrame, name: str | None, floating: bool):
        self._df = df  # columns: __index__, __value__, __key__
        self._name = name
        self._floating = floating

    def _agg(self, expr, floating: bool | None = None) -> SparkSeries:
        df = self._df
        if self._floating:  # pandas skips NaN values; Spark would aggregate them
            df = df.withColumn(VAL, valid(VAL, True))
        out = df.groupBy("__key__").agg(expr.alias("__v__")).select(
            F.col("__key__").alias(IDX), F.col("__v__").alias(VAL)
        )
        return SparkSeries(
            out,
            name=self._name,
            floating=self._floating if floating is None else floating,
        )

    def sum(self):
        return self._agg(F.sum(VAL))

    def prod(self):
        return self._agg(F.product(VAL))

    def min(self):
        return self._agg(F.min(VAL))

    def max(self):
        return self._agg(F.max(VAL))

    def mean(self):
        return self._agg(F.avg(VAL), floating=True)

    def median(self):
        return self._agg(F.median(VAL), floating=True)

    def count(self):
        return self._agg(F.count(VAL), floating=False)

    def std(self, ddof: int = 1):
        return self._agg(
            F.stddev_samp(VAL) if ddof == 1 else F.stddev_pop(VAL), floating=True
        )

    def var(self, ddof: int = 1):
        return self._agg(
            F.var_samp(VAL) if ddof == 1 else F.var_pop(VAL), floating=True
        )

    def nunique(self):
        return self._agg(F.countDistinct(VAL), floating=False)
