"""FrameGroupBy — the reference's DataFrameGroupByType surface
(/root/reference/sdc/datatypes/hpat_pandas_groupby_functions.py:361-481:
count/max/mean/median/min/prod/std/sum/var).

Reference semantics reproduced: NULL/NaN group keys are DROPPED
(…dataframe_functions.py:3088); sort=True orders the result by key. The
position-dict + gather machinery of the reference is replaced by Spark's
partial+final hash aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from sdc_spark.frame.series import IDX, NUMERIC, floats, valid


class FrameGroupBy:
    _AGGS = {
        "count": F.count,
        "max": F.max,
        "mean": F.avg,
        "median": F.median,
        "min": F.min,
        "prod": F.product,
        "std": F.stddev_samp,
        "sum": F.sum,
        "var": F.var_samp,
    }

    def __init__(self, frame, keys: list[str], cols: list[str] | None = None, sort: bool = True):
        self._frame = frame
        self._keys = keys
        self._cols = cols
        self._sort = sort

    def __getitem__(self, key):
        cols = [key] if isinstance(key, str) else list(key)
        return FrameGroupBy(self._frame, self._keys, cols, self._sort)

    def _value_cols(self) -> list[str]:
        if self._cols:
            return self._cols
        return [
            c
            for c, t in self._frame._df.dtypes
            if c not in self._keys and c != IDX and t in NUMERIC
        ]

    def _agg(self, kind: str):
        from sdc_spark.frame.core import SparkFrame

        fn = self._AGGS[kind]
        df = self._frame._df
        fl = floats(df)
        cond = F.lit(True)
        for k in self._keys:
            cond = cond & F.col(k).isNotNull()
            if k in fl:
                cond = cond & ~F.isnan(F.col(k))
        out = (
            df.filter(cond)
            .groupBy(*self._keys)
            .agg(
                *[
                    fn(valid(c, True) if c in fl else F.col(c)).alias(c)
                    for c in self._value_cols()
                ]
            )
        )
        if self._sort:
            out = out.orderBy(*self._keys)
        # group keys become the index (single-key frames; multi-key kept as columns)
        if len(self._keys) == 1:
            out = out.withColumnRenamed(self._keys[0], IDX)
        return SparkFrame(out)

    def count(self):
        return self._agg("count")

    def max(self):
        return self._agg("max")

    def mean(self):
        return self._agg("mean")

    def median(self):
        return self._agg("median")

    def min(self):
        return self._agg("min")

    def prod(self):
        return self._agg("prod")

    def std(self):
        return self._agg("std")

    def sum(self):
        return self._agg("sum")

    def var(self):
        return self._agg("var")

    def _per_row(self, expr_fn, cols: list[str] | None = None):
        """Per-row (non-aggregating) group op: window partitioned by the
        group keys, ordered by __index__ — natively scalable, no global
        machinery needed."""
        from pyspark.sql import Window as W

        from sdc_spark.frame.core import SparkFrame

        w = W.partitionBy(*self._keys).orderBy(IDX)
        cols = self._value_cols() if cols is None else cols
        out = self._frame._df.select(
            IDX, *self._keys, *[expr_fn(c, w).alias(c) for c in cols]
        )
        return SparkFrame(out)

    def _numeric_value_cols(self) -> list[str]:
        dts = dict(self._frame._df.dtypes)
        return [c for c in self._value_cols() if dts[c] in NUMERIC]

    def cumcount(self):
        """groupby().cumcount() — 0-based position of each row within its
        group (one hash shuffle, group-local window)."""
        from pyspark.sql import Window as W

        from sdc_spark.frame.core import SparkFrame

        w = W.partitionBy(*self._keys).orderBy(IDX)
        out = self._frame._df.select(
            IDX,
            *self._keys,
            (F.row_number().over(w) - 1).alias("cumcount"),
        )
        return SparkFrame(out)

    def rank(self, method: str = "average", ascending: bool = True):
        """groupby().rank() — pandas per-group value ranks (average / min /
        max / dense / first), NaN/null keeps null. Group-local windows, one
        hash shuffle."""
        from pyspark.sql import Window as W

        from sdc_spark.frame.core import SparkFrame

        if method not in ("average", "min", "max", "dense", "first"):
            raise ValueError(f"unsupported rank method {method!r}")
        cols = self._value_cols()
        base = self._frame._df
        fl = floats(base)
        # NaN -> null so missing values form one group; nulls-LAST order
        # keys so missing values never consume the leading ranks
        clean = base.select(
            IDX, *self._keys, *[valid(c, True).alias(c) if c in fl else c for c in cols]
        )
        sel = [IDX, *self._keys]
        for c in cols:
            key = (
                F.col(c).asc_nulls_last() if ascending else F.col(c).desc_nulls_last()
            )
            w = W.partitionBy(*self._keys).orderBy(key)
            wv = W.partitionBy(*self._keys, F.col(c))
            if method == "dense":
                rk = F.dense_rank().over(w).cast("double")
            elif method == "min":
                rk = F.rank().over(w).cast("double")
            elif method == "max":
                rk = (F.rank().over(w) + F.count(F.lit(1)).over(wv) - 1).cast("double")
            elif method == "first":
                rk = F.row_number().over(w).cast("double")
            else:  # average of min..max rank for ties
                rk = (
                    F.rank().over(w) + (F.count(F.lit(1)).over(wv) - 1) / 2.0
                ).cast("double")
            sel.append(F.when(F.col(c).isNotNull(), rk).alias(c))
        return SparkFrame(clean.select(*sel))

    def shift(self, periods: int = 1):
        """groupby().shift() — lag/lead within each group."""
        fn = (
            (lambda c, w: F.lag(c, periods).over(w))
            if periods >= 0
            else (lambda c, w: F.lead(c, -periods).over(w))
        )
        return self._per_row(fn)

    def ffill(self):
        from pyspark.sql import Window as W

        return self._per_row(
            lambda c, w: F.last(c, ignorenulls=True).over(
                w.rowsBetween(W.unboundedPreceding, 0)
            )
        )

    def bfill(self):
        from pyspark.sql import Window as W

        return self._per_row(
            lambda c, w: F.first(c, ignorenulls=True).over(
                w.rowsBetween(0, W.unboundedFollowing)
            )
        )

    def cumsum(self, numeric_only: bool = False):
        """groupby().cumsum(). ``numeric_only=True`` restricts to numeric
        value columns (pandas raises NotImplementedError on object
        columns with the default False — so does the summing window
        here, at execution)."""
        from pyspark.sql import Window as W

        fl = floats(self._frame._df)

        def fn(c, w):
            run = F.sum(c).over(w.rowsBetween(W.unboundedPreceding, 0))
            if c in fl:
                # pandas: NaN rows stay NaN but don't poison the running sum
                return F.when(F.col(c).isNotNull() & ~F.isnan(c), run).otherwise(
                    F.lit(float("nan"))
                )
            return run

        cols = self._numeric_value_cols() if numeric_only else None
        return self._per_row(fn, cols=cols)

    def resample(self, rule: str, on: str):
        """df.groupby(keys).resample(rule, on=ts) — per-group time-bucket
        bars with pandas dense axes inside each group's own [min, max].
        One (keys, bucket) hash aggregation; the per-group axis is bounds
        + exploded sequence (span-bounded, not data-bounded)."""
        from sdc_spark.frame.resample import GroupResampler

        cols = self._cols or [c for c in self._value_cols() if c != on]
        return GroupResampler(self._frame._df, on, rule, cols, keys=self._keys)

    def rolling(self, window: int, min_periods: int | None = None):
        """df.groupby(keys).rolling(window) — per-group trailing windows
        partitioned by the group keys (the natively-scalable rolling)."""
        from sdc_spark.frame.rolling import GroupRolling

        return GroupRolling(self._frame, self._keys, window, min_periods)

    def expanding(self, min_periods: int = 1):
        """df.groupby(keys).expanding() — per-group prefix windows. Groups
        are the partitioning key, so unlike the global expanding this needs
        no scan decomposition: one hash shuffle, windows stay group-local,
        and even median/quantile are exact (recompute-within-group)."""
        from sdc_spark.frame.rolling import GroupExpanding

        return GroupExpanding(self._frame, self._keys, min_periods)

    def ewm(self, alpha: float, min_periods: int = 0):
        """df.groupby(keys).ewm(alpha) — per-group exponentially-weighted
        kernels (mean/var/std) on the segmented decay scan that Series.ewm
        also runs (order.scan_ewm): range-partitioned by (keys, index), so
        a dominant group splits across partitions and its carry crosses
        them; groups local to a partition run through pandas' own
        groupby-ewm."""
        from sdc_spark.frame.rolling import GroupEwm

        return GroupEwm(self._frame, self._keys, alpha, min_periods)

    def quantile(self, q: float = 0.5, approx: bool = False, accuracy: int = 10000):
        """Per-group exact linear-interpolation quantile; ``approx=True``
        uses the approx_percentile sketch (mergeable, no per-group sort
        buffer — the 100 TB fast path)."""
        from sdc_spark.frame.core import SparkFrame

        df = self._frame._df
        cond = F.lit(True)
        for k in self._keys:
            cond = cond & F.col(k).isNotNull()
        fn = (
            (lambda c: F.approx_percentile(F.col(c), F.lit(q), F.lit(accuracy)))
            if approx
            else (lambda c: F.percentile(F.col(c), F.lit(q)))
        )
        out = df.filter(cond).groupBy(*self._keys).agg(
            *[fn(c).alias(c) for c in self._value_cols()]
        )
        if self._sort:
            out = out.orderBy(*self._keys)
        if len(self._keys) == 1:
            out = out.withColumnRenamed(self._keys[0], IDX)
        return SparkFrame(out)

    def size(self):
        """Group row counts (counts NaN rows too, unlike count())."""
        from sdc_spark.frame.core import SparkFrame

        df = self._frame._df
        cond = F.lit(True)
        for k in self._keys:
            cond = cond & F.col(k).isNotNull()
        out = df.filter(cond).groupBy(*self._keys).agg(
            F.count(F.lit(1)).alias("size")
        )
        if self._sort:
            out = out.orderBy(*self._keys)
        if len(self._keys) == 1:
            out = out.withColumnRenamed(self._keys[0], IDX)
        return SparkFrame(out)

    def nunique(self):
        from sdc_spark.frame.core import SparkFrame

        df = self._frame._df
        cond = F.lit(True)
        for k in self._keys:
            cond = cond & F.col(k).isNotNull()
        out = df.filter(cond).groupBy(*self._keys).agg(
            *[F.countDistinct(c).alias(c) for c in self._value_cols()]
        )
        if self._sort:
            out = out.orderBy(*self._keys)
        if len(self._keys) == 1:
            out = out.withColumnRenamed(self._keys[0], IDX)
        return SparkFrame(out)

    def apply(self, func, schema: str):
        """gb.apply via applyInPandas (absent in the reference — SURVEY
    §2.10 marks applyInPandas as our extension point): ``func`` takes a
        per-group pandas DataFrame (without the engine's index column) and
        returns one."""

        def runner(pdf):
            return func(pdf.drop(columns=[IDX], errors="ignore"))

        from sdc_spark.frame.core import SparkFrame

        out = self._frame._df.groupBy(*self._keys).applyInPandas(runner, schema)
        return SparkFrame(out)

    def filter(self, predicate):
        """pandas gb.filter, declarative form: ``predicate`` is an
        aggregate boolean Column over the group (e.g.
        ``F.sum('x') > 10``); rows of qualifying groups pass through.
        Plan: one hash aggregate to find the keys + a semi join back —
        the keys table is group-sized (broadcast when small via AQE)."""
        from sdc_spark.frame.core import SparkFrame

        keys = (
            self._frame._df.groupBy(*self._keys)
            .agg(predicate.alias("__keep__"))
            .filter(F.col("__keep__"))
            .select(*self._keys)
        )
        out = self._frame._df.join(keys, self._keys, "left_semi")
        return SparkFrame(out)

    def agg(self, spec: dict[str, str | list[str]] | None = None, **named):
        """gb.agg — all three pandas spellings (free Spark extra, SURVEY
        §2.5): ``agg({'col': 'sum'})``, ``agg({'col': ['sum', 'mean']})``
        (result columns ``col_sum``-style), and named aggregation
        ``agg(out=('col', 'sum'))``."""
        from sdc_spark.frame.core import SparkFrame

        exprs = []
        for c, kind in (spec or {}).items():
            if isinstance(kind, (list, tuple)):
                exprs += [self._AGGS[k](c).alias(f"{c}_{k}") for k in kind]
            else:
                exprs.append(self._AGGS[kind](c).alias(c))
        for name, (c, k) in named.items():
            exprs.append(self._AGGS[k](c).alias(name))
        if not exprs:
            raise ValueError("agg needs a spec dict or named aggregations")
        out = self._frame._df.groupBy(*self._keys).agg(*exprs)
        if self._sort:
            out = out.orderBy(*self._keys)
        if len(self._keys) == 1:
            out = out.withColumnRenamed(self._keys[0], IDX)
        return SparkFrame(out)
