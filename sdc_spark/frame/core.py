"""SparkFrame — the reference's DataFrameType surface
(/root/reference/sdc/datatypes/hpat_pandas_dataframe_functions.py, 3,400+
LoC of @overload methods) over a Spark DataFrame + explicit __index__
column.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as _W
from pyspark.sql import functions as F

from sdc_spark.frame.series import IDX, NUMERIC, VAL, SparkSeries, floats, valid
from sdc_spark.functions import expressions as sexpr
from sdc_spark.operators import order as sorder


_PD_TO_SPARK = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "float32": "float", "float64": "double", "bool": "boolean",
    "object": "string", "datetime64[ns]": "timestamp",
    # pandas nullable extension dtypes (masked arrays) — same storage
    # class, null mask handled by Arrow at the boxing boundary
    "Int8": "tinyint", "Int16": "smallint", "Int32": "int", "Int64": "bigint",
    "UInt8": "smallint", "UInt16": "int", "UInt32": "bigint", "UInt64": "bigint",
    "Float32": "float", "Float64": "double", "boolean": "boolean",
    "string": "string",
}


def from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> SparkFrame:
    """Boxing boundary (ref sdc/hiframes/boxing.py:89-141) — the pandas
    index becomes the __index__ column. Schema comes from the pandas dtypes
    (mirrors the reference's unboxing-time schema capture,
    sdc/hiframes/boxing.py:69-87), so empty frames round-trip too."""
    p = pdf.copy()
    p[IDX] = pdf.index.values
    ddl = ", ".join(
        f"`{c}` {_PD_TO_SPARK.get(str(t), 'string')}" for c, t in p.dtypes.items()
    )
    return SparkFrame(spark.createDataFrame(p, schema=ddl))


def read_parquet(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> SparkFrame:
    """ref sdc/io/parquet_pio.py. The positional index is materialized only
    if an op needs it; file order is not a distributed invariant, so ops
    that require total order use the explicit index."""
    df = spark.read.parquet(path)
    if columns:
        df = df.select(*columns)
    df = df.withColumn(IDX, F.monotonically_increasing_id())
    return SparkFrame(df)


def concat(frames: Sequence["SparkFrame"], axis: int = 0) -> "SparkFrame":
    """pd.concat over SparkFrames.

    axis=0: schema-merging union (missing columns -> NULL), fresh index.
    axis=1: column-wise concat aligned on __index__ — a chain of full
    outer joins (the reference's alignment-join semantics); duplicate
    column names get positional _0/_1 suffixes like pandas keeps them
    side by side."""
    if not frames:
        raise ValueError("need at least one frame")
    if axis == 0:
        out = frames[0]
        for f in frames[1:]:
            out = out.append(f)
        return out
    seen: dict[str, int] = {}
    base = None
    for i, f in enumerate(frames):
        cols = []
        for c in f.columns:
            n = seen.get(c, 0)
            seen[c] = n + 1
            cols.append(F.col(c).alias(f"{c}_{n}" if n else c))
        d = f._df.select(IDX, *cols)
        base = d if base is None else base.join(d, IDX, "full")
    return SparkFrame(base)


class SparkFrame:
    def __init__(self, df: DataFrame):
        if IDX not in df.columns:
            df = df.withColumn(IDX, F.monotonically_increasing_id())
        self._df = df

    # -- attrs (ref …dataframe_functions.py:79-356) ------------------------

    @property
    def columns(self) -> list[str]:
        return [c for c in self._df.columns if c not in (IDX, "__ord__")]

    def __len__(self) -> int:
        return self._df.count()

    @property
    def shape(self) -> tuple[int, int]:
        return (len(self), len(self.columns))

    def to_pandas(self) -> pd.DataFrame:
        # frames that carry their own row order (sort_values) expose it as
        # __ord__ (same convention as SparkSeries); otherwise index order
        if "__ord__" in self._df.columns:
            pdf = self._df.orderBy("__ord__").drop("__ord__").toPandas()
        else:
            pdf = self._df.orderBy(IDX).toPandas()
        return pdf.set_index(IDX).rename_axis(None)

    # -- getitem family (ref :1791-2215, rewrite
    # sdc/rewrites/dataframe_getitem_attribute.py) -------------------------

    def __getitem__(self, key):
        if isinstance(key, str):
            return SparkSeries.from_column(self._df, key)
        if isinstance(key, list):
            return SparkFrame(self._df.select(IDX, *key))
        if isinstance(key, SparkSeries):  # boolean mask
            mask = key._df.select(F.col(IDX), F.col(VAL).alias("__mask__"))
            kept = self._df.join(mask, IDX).filter(F.col("__mask__")).drop("__mask__")
            return SparkFrame(kept)
        if isinstance(key, slice):
            if key.start is None and key.step is None and key.stop is not None:
                return self.head(key.stop)
            return self._islice(key)
        raise TypeError(f"unsupported key {type(key)}")

    def _islice(self, key: slice) -> SparkFrame:
        """Positional slice (pandas iloc[a:b:c]) via distributed positions
        in the current row order; the result carries its own order as
        ``__ord__`` (reversed for a negative step)."""
        start, stop, step = key.start, key.stop, key.step or 1
        if step == 0:
            raise ValueError("slice step cannot be zero")
        pos = sorder.with_position(self._df, [self._row_order()[0]], "__pos__")
        p = F.col("__pos__")
        if step > 0 and (start or 0) >= 0 and (stop is None or stop >= 0):
            start = start or 0
            cond = p >= start
            if stop is not None:
                cond = cond & (p < stop)
            if step != 1:
                cond = cond & ((p - start) % step == 0)
            return SparkFrame(pos.filter(cond).withColumn("__ord__", p).drop("__pos__"))
        # negative offsets / reverse step: resolve against the total count,
        # carried as a broadcast 1-row column (plan stays lazy)
        n_df = self._df.agg(F.count(F.lit(1)).alias("__n__"))
        b = pos.crossJoin(F.broadcast(n_df))
        n = F.col("__n__")

        def norm(v, default):
            if v is None:
                return default
            lit = F.lit(v)
            return F.when(lit < 0, F.greatest(n + lit, F.lit(-1))).otherwise(lit)

        if step > 0:
            lo, hi = norm(start, F.lit(0)), norm(stop, n)
            cond = (p >= lo) & (p < hi) & ((p - lo) % step == 0)
            rank = p
        else:
            lo = F.least(norm(start, n - 1), n - 1)
            hi = norm(stop, F.lit(-1))
            cond = (p <= lo) & (p > hi) & ((lo - p) % (-step) == 0)
            rank = lo - p  # reversed enumeration order
        return SparkFrame(
            b.filter(cond).withColumn("__ord__", rank).drop("__pos__", "__n__")
        )

    def __getattr__(self, name: str):
        # df.A → df['A'] (ref rewrite dataframe_getitem_attribute.py:37-100)
        if not name.startswith("_") and name in self.columns:
            return self[name]
        raise AttributeError(name)

    def set_column(self, name: str, s: SparkSeries | F.Column) -> SparkFrame:
        """df[c] = s (ref …dataframe_functions.py:3109-3371 — returns a NEW
        frame, no reflection, matching the reference's no-mutation model)."""
        if isinstance(s, SparkSeries):
            v = s._df.select(F.col(IDX), F.col(VAL).alias(name))
            base = self._df.drop(name) if name in self.columns else self._df
            return SparkFrame(base.join(v, IDX, "left"))
        return SparkFrame(self._df.withColumn(name, s))

    def assign(self, **kwargs) -> SparkFrame:
        """pd.DataFrame.assign — add/replace columns from SparkSeries,
        Columns, or callables taking the frame (evaluated in order, so
        later kwargs may reference earlier ones, matching pandas)."""
        out = self
        for name, v in kwargs.items():
            if callable(v) and not isinstance(v, (SparkSeries, F.Column)):
                v = v(out)
            out = out.set_column(name, v)
        return out

    def astype(self, dtype) -> SparkFrame:
        """Per-column cast: a single dtype string for every column or a
        {col: dtype} dict (pandas-style truncating int casts come from the
        series layer's conventions — Spark cast truncates toward zero,
        matching numpy)."""
        mapping = (
            dtype if isinstance(dtype, dict) else {c: dtype for c in self.columns}
        )
        out = self._df
        for c, t in mapping.items():
            t = {"int64": "long", "int32": "int", "float64": "double",
                 "float32": "float", "str": "string", "object": "string",
                 "bool": "boolean"}.get(str(t), str(t))
            out = out.withColumn(c, F.col(c).cast(t))
        return SparkFrame(out)

    def drop(self, columns: Sequence[str] | str) -> SparkFrame:
        cols = [columns] if isinstance(columns, str) else list(columns)
        return SparkFrame(self._df.drop(*cols))

    def rename(self, columns: dict[str, str]) -> SparkFrame:
        return SparkFrame(self._df.withColumnsRenamed(columns))

    def head(self, n: int = 5) -> SparkFrame:
        # the first n rows in the current row order (TakeOrdered — no full
        # sort)
        return SparkFrame(self._df.orderBy(self._row_order()[0]).limit(n))

    def copy(self) -> SparkFrame:
        return SparkFrame(self._df)

    def take(self, indices) -> SparkFrame:
        """Positional row gather (pandas df.take): rows come back in the
        REQUESTED order (duplicates preserved — one output row per request
        entry), negative positions resolve against len(self), and
        out-of-bounds positions raise IndexError eagerly, as pandas does.
        Positions are computed in the frame's CURRENT row order (carried
        sort order if present, else __index__ order) via the distributed
        position machinery; the request list is broadcast, never the
        data."""
        from sdc_spark.materialize import materialize as _mat

        idx = [int(i) for i in indices]
        if any(i < 0 for i in idx):
            # the count() needed to resolve negatives also validates every
            # position in Python — no second Spark job
            n = self._df.count()
            idx = [i + n if i < 0 else i for i in idx]
            if any(i < 0 or i >= n for i in idx):
                raise IndexError("take(): indices are out-of-bounds")
            validate = False
        else:
            validate = True
        pos = sorder.with_position(self._df, [self._row_order()[0]], "__pos__")
        spark = self._df.sparkSession
        from sdc_spark.sources.readers import local_rows

        req = local_rows(
            spark, list(enumerate(idx)), "__rk__ long, __pos__ long"
        )
        hit = pos.join(F.broadcast(req), "__pos__")
        if validate:
            # pandas raises on any position outside [0, n): validate
            # eagerly (positions are unique per row, so distinct-hit count
            # is enough) — on a MATERIALIZED hit, so the gather below
            # reuses the computed join instead of re-running the lineage
            hit = _mat(hit)
            matched = hit.select(F.countDistinct("__pos__")).first()[0]
            if matched != len(set(idx)):
                raise IndexError("take(): indices are out-of-bounds")
        return SparkFrame(
            hit.select(F.col(IDX), F.col("__rk__").alias("__ord__"), *self.columns)
        )

    def reset_index(self, drop: bool = False) -> SparkFrame:
        """ref …dataframe_functions.py:3371-3443. The positional index is
        materialized with the distributed position machinery
        (operators/order.py) — range partition + P-row offset broadcast,
        no full-data single partition."""
        cols = self.columns
        pos = sorder.with_position(self._df, [IDX], "__new__")
        if drop:
            out = pos.select(F.col("__new__").alias(IDX), *cols)
        else:
            out = pos.select(
                F.col("__new__").alias(IDX), F.col(IDX).alias("index"), *cols
            )
        return SparkFrame(out)

    def _row_order(self) -> tuple[str, list[str]]:
        """(order key, internal columns to carry through) for order-sensitive
        ops: frames sorted via sort_values carry a ``__ord__`` rank and
        pandas applies shift/cumsum/ffill in that CURRENT row order, not the
        original index order."""
        if "__ord__" in self._df.columns:
            return "__ord__", [IDX, "__ord__"]
        return IDX, [IDX]

    def _shifted(self, cols: list[str], periods: int, fn, fill_value=None) -> SparkFrame:
        """Each of ``cols`` as ``fn(value, value periods rows earlier)`` in
        the current row order: ONE boundary-context pass (order.shifted)
        for all of them — k columns cost the shuffles of one. Rows with no
        row ``periods`` back see ``fill_value``; a missing value inside
        the frame stays missing, as in pandas."""
        key, keep = self._row_order()
        sh = {c: f"__sh_{c}__" for c in cols}
        out = sorder.shifted(
            self._df.select(*keep, *cols), [key],
            {sh[c]: F.col(c) for c in cols}, periods, fill_value,
        )
        return SparkFrame(
            out.select(*keep, *[fn(F.col(c), F.col(sh[c])).alias(c) for c in cols])
        )

    def shift(self, periods: int = 1, fill_value=None) -> SparkFrame:
        """pandas df.shift: every column lagged (led, for periods < 0)."""
        return self._shifted(self.columns, periods, lambda v, s: s, fill_value)

    def diff(self, periods: int = 1) -> SparkFrame:
        """pandas df.diff: numeric columns minus their shift (non-numeric
        columns are dropped, as pandas raises on them)."""
        return self._shifted(self._numeric_cols(), periods, lambda v, s: v - s)

    def pct_change(
        self, periods: int = 1, fill_method: str | None = "pad"
    ) -> SparkFrame:
        """Per-numeric-column fractional change (ref
        …dataframe_functions.py:2503): fill gaps first (pandas classic
        default 'pad'), then one shift of every column; pandas_div gives
        ±inf / NaN on zero divisors (ANSI `/` would raise)."""
        base: SparkFrame = self
        if fill_method in ("pad", "ffill"):
            base = self.ffill()
        elif fill_method in ("bfill", "backfill"):
            base = self.bfill()
        elif fill_method is not None:
            raise ValueError(f"unsupported fill_method {fill_method!r}")
        return base._shifted(
            self._numeric_cols(), periods,
            lambda v, s: F.when(s.isNotNull(), sexpr.pandas_div(v, s) - 1),
        )

    def _fill(self, *direction: str) -> SparkFrame:
        """ffill (no ``direction``) / bfill (``"suffix"``): a ``last`` scan
        per column over the row order, NaN masked to missing first."""
        key, keep = self._row_order()
        fl = floats(self._df)
        masked = self._df.select(
            *keep, *[valid(c, True).alias(c) if c in fl else c for c in self.columns]
        )
        specs = {c: ("last", F.col(c), *direction) for c in self.columns}
        return SparkFrame(sorder.scan(masked, [key], specs))

    def ffill(self) -> SparkFrame:
        return self._fill()

    def bfill(self) -> SparkFrame:
        return self._fill("suffix")

    def _cum(self, kind: str) -> SparkFrame:
        """pandas cum* (ref series kernel numpy_like.py:875-958, lifted per
        column): every numeric column in ONE prefix-scan pass
        (order.scan) in the current row order. Missing cells (NaN, or null
        in a nullable int) never advance their column's scan and re-emit
        as missing (pandas skipna)."""
        cols = self._numeric_cols()
        fl = floats(self._df)
        scans = {f"__s_{c}__": (kind, valid(c, c in fl)) for c in cols}
        key, keep = self._row_order()
        scanned = sorder.scan(self._df.select(*keep, *cols), [key], scans)
        return SparkFrame(
            scanned.select(
                *keep,
                *[
                    F.when(sexpr.notna(F.col(c), c in fl), F.col(f"__s_{c}__"))
                    .otherwise(F.lit(float("nan")) if c in fl else F.lit(None))
                    .alias(c)
                    for c in cols
                ],
            )
        )

    def cumsum(self, numeric_only: bool = True) -> SparkFrame:
        return self._cum("sum")

    def cummax(self, numeric_only: bool = True) -> SparkFrame:
        return self._cum("max")

    def cummin(self, numeric_only: bool = True) -> SparkFrame:
        return self._cum("min")

    def drop_duplicates(
        self, subset: Sequence[str] | None = None, keep: str = "first"
    ) -> SparkFrame:
        """pandas df.drop_duplicates: one surviving row per subset-key
        group. Encounter order is undefined on a distributed table, so
        'first'/'last' resolve as min/max __index__ (deterministic;
        exact_dedup's convention). Shuffles keys + index only via a
        min_by/max_by aggregate — never wide rows twice."""
        keys = list(subset) if subset else self.columns
        pick = F.min_by if keep == "first" else F.max_by
        others = [c for c in self.columns if c not in keys]
        agg_idx = (F.min if keep == "first" else F.max)(F.col(IDX)).alias(IDX)
        kept = self._df.groupBy(*keys).agg(
            agg_idx, *[pick(F.col(c), F.col(IDX)).alias(c) for c in others]
        )
        return SparkFrame(kept.select(IDX, *self.columns))

    def get_dummies(
        self, col: str, categories: Sequence[str] | None = None, prefix: str | None = None
    ) -> SparkFrame:
        """pd.get_dummies for one column: 0/1 indicator columns per
        category. With ``categories=None`` the distinct values are read
        once (a dim-sized boxing boundary, like pivot's value discovery —
        pass the list explicitly when the domain is known to keep the plan
        single-pass). Indicators are row-local when-expressions."""
        if categories is None:
            categories = sorted(
                r[0] for r in self._df.select(col).distinct().collect() if r[0] is not None
            )
        p = prefix if prefix is not None else col
        out = self._df
        for cat in categories:
            out = out.withColumn(
                f"{p}_{cat}", (F.col(col) == F.lit(cat)).cast("int")
            )
        return SparkFrame(out.drop(col))

    def duplicated(self, subset: Sequence[str] | None = None, keep: str | bool = "first"):
        """pandas df.duplicated: boolean series flagging rows whose
        subset-key was seen before ('first'/'last' resolve as min/max
        __index__, as in drop_duplicates; keep=False flags whole >1
        groups). Shuffles (keys, index) only — never the wide rows."""
        keys = list(subset) if subset else self.columns
        slim = self._df.select(IDX, *keys)
        # window over the key partition: nulls group together (pandas
        # duplicated() semantics — NaN keys duplicate each other)
        w = _W.partitionBy(*keys)
        if keep is False:
            flag = F.count(F.lit(1)).over(w) > 1
        else:
            pick = F.min if keep == "first" else F.max
            flag = F.col(IDX) != pick(F.col(IDX)).over(w)
        return SparkSeries(slim.select(F.col(IDX), flag.alias(VAL)), name=None, floating=False)

    def _topk(self, n: int, columns: str | Sequence[str], largest: bool) -> SparkFrame:
        """The first ``n`` rows in ``columns`` order, missing values (NaN
        too) last and ties by index, as pandas nlargest/nsmallest; their
        rank is the result's ``__ord__``. orderBy + limit is Spark's
        TakeOrdered — per-partition top-n then a driver merge of P
        candidate sets; the rank window runs over the n survivors only."""
        fl = floats(self._df)
        keys = []
        for c in [columns] if isinstance(columns, str) else columns:
            v = valid(c, c in fl)
            keys += [v.isNull(), v.desc() if largest else v.asc()]
        keys.append(F.col(IDX))
        w = _W.partitionBy(sorder._one(F.spark_partition_id())).orderBy(*keys)
        top = self._df.orderBy(*keys).limit(n)
        return SparkFrame(top.withColumn("__ord__", F.row_number().over(w)))

    def nlargest(self, n: int, columns: str | Sequence[str]) -> SparkFrame:
        return self._topk(n, columns, True)

    def nsmallest(self, n: int, columns: str | Sequence[str]) -> SparkFrame:
        return self._topk(n, columns, False)

    def sample(self, frac: float, seed: int | None = None) -> SparkFrame:
        """Bernoulli row sample (approximate count, like pandas
        frac-sampling on a distributed engine); for exact per-stratum
        counts use operators.curation.sample_stratified."""
        return SparkFrame(self._df.sample(fraction=frac, seed=seed))

    def set_index(self, col: str) -> SparkFrame:
        """Promote a column to the index (pandas df.set_index: the column
        leaves the value columns)."""
        if col not in self.columns:
            raise KeyError(col)
        keep = [c for c in self.columns if c != col]
        return SparkFrame(self._df.select(F.col(col).alias(IDX), *keep))

    # -- label/positional access (ref iloc/loc accessors,
    # …dataframe_functions.py:2216-2502) -----------------------------------

    def loc(self, index_value) -> SparkFrame:
        """Label access on the __index__ column."""
        return SparkFrame(self._df.filter(F.col(IDX) == F.lit(index_value)))

    def loc_range(self, start, stop) -> SparkFrame:
        """Label slice (pandas .loc is stop-INCLUSIVE)."""
        return SparkFrame(
            self._df.filter((F.col(IDX) >= F.lit(start)) & (F.col(IDX) <= F.lit(stop)))
        )

    def iloc(self, pos: int) -> dict:
        """Positional row access in the current row order (an ordered
        limit; O(pos) rows move)."""
        rows = pos >= 0 and self._df.orderBy(self._row_order()[0]).offset(pos).limit(1).take(1)
        if not rows:
            raise IndexError(pos)
        return {c: rows[0][c] for c in self.columns}

    def at(self, index_value, col: str):
        rows = self._df.filter(F.col(IDX) == F.lit(index_value)).select(col).take(1)
        if not rows:
            raise KeyError(index_value)
        return rows[0][0]

    # -- missing data ------------------------------------------------------

    def isna(self) -> SparkFrame:
        fl = floats(self._df)
        return SparkFrame(
            self._df.select(
                *self._row_order()[1],
                *[sexpr.isna(F.col(c), c in fl).alias(c) for c in self.columns],
            )
        )

    def fillna(self, value) -> SparkFrame:
        """Scalar fill (float columns only — integer columns carry no NaN)
        or pandas dict form ``{col: fill}`` filling exactly the named
        columns."""
        fl = floats(self._df)
        fills = value if isinstance(value, dict) else dict.fromkeys(fl, value)
        return SparkFrame(
            self._df.select(
                *self._row_order()[1],
                *[
                    sexpr.fillna(F.col(c), fills[c], c in fl).alias(c) if c in fills else c
                    for c in self.columns
                ],
            )
        )

    def dropna(
        self,
        subset: Sequence[str] | None = None,
        how: str = "any",
        thresh: int | None = None,
    ) -> SparkFrame:
        """pandas df.dropna: ``how='any'`` (default) drops rows with ANY
        missing value in ``subset``; ``'all'`` only rows where EVERY one is
        missing; ``thresh=k`` keeps rows with at least k non-missing
        (overrides ``how``, as in pandas). Row-local predicate — no
        shuffle."""
        fl = floats(self._df)
        cols = list(subset) if subset else self.columns
        oks = [sexpr.notna(F.col(c), c in fl) for c in cols]
        if thresh is not None:
            n_ok = sum((ok.cast("int") for ok in oks), F.lit(0))
            cond = n_ok >= thresh
        elif how == "all":
            cond = F.lit(False)
            for ok in oks:
                cond = cond | ok
        else:
            cond = F.lit(True)
            for ok in oks:
                cond = cond & ok
        return SparkFrame(self._df.filter(cond))

    @staticmethod
    def _translate_expr(expr: str) -> str:
        """pandas query/eval syntax -> Spark SQL, rewriting ONLY outside
        quoted regions (', ", backticks): `&`/`|`/`~` become AND/OR/NOT
        (so a string literal like 'A&B' passes through intact), a python
        list after `in` / `not in` becomes a SQL tuple (`x in [1, 2]` ->
        `x in (1, 2)`), `==` stays (Spark treats == as =), word forms
        and/or/not pass through. Supported subset: column refs (backticks
        for odd names), comparisons, arithmetic, in-lists, boolean
        combinators, and any Spark SQL function. `@variable` interpolation
        is rejected — inline the value into the string."""
        out: list[str] = []
        quote: str | None = None
        escaped = False  # previous char (inside quotes) was a backslash
        cur = ""  # identifier being scanned
        last = ""  # last COMPLETED word (survives spaces: `in [` detection)
        in_list_stack: list[bool] = []

        def finish_word() -> None:
            nonlocal cur, last
            if cur:
                last = cur
                cur = ""

        for ch in expr:
            if quote is not None:
                out.append(ch)
                if escaped:
                    escaped = False  # e.g. \' inside '...' does not close it
                elif ch == "\\":
                    escaped = True
                elif ch == quote:
                    quote = None
                continue
            if ch.isalnum() or ch == "_":
                cur += ch
                out.append(ch)
                continue
            finish_word()
            if ch in ("'", '"', "`"):
                quote = ch
                out.append(ch)
                last = ""
            elif ch == "&":
                out.append(" AND ")
                last = ""
            elif ch == "|":
                out.append(" OR ")
                last = ""
            elif ch == "~":
                out.append(" NOT ")
                last = ""
            elif ch == "@":
                raise ValueError(
                    "@variable interpolation is not supported in "
                    "query()/eval() — inline the value into the expression"
                )
            elif ch == "[":
                # python list literal after `in` -> SQL tuple
                conv = last.lower() == "in"
                in_list_stack.append(conv)
                out.append("(" if conv else "[")
                last = ""
            elif ch == "]":
                conv = in_list_stack.pop() if in_list_stack else False
                out.append(")" if conv else "]")
                last = ""
            else:
                out.append(ch)
                if not ch.isspace():
                    last = ""
        if quote is not None:
            raise ValueError(f"unterminated quote in expression: {expr!r}")
        return "".join(out)

    def query(self, expr: str) -> SparkFrame:
        """pandas df.query(expr): row filter from an expression string —
        compiled by Catalyst like any other predicate (pushdown-eligible),
        not row-at-a-time eval. See _translate_expr for the supported
        subset."""
        return SparkFrame(self._df.filter(F.expr(self._translate_expr(expr))))

    def eval(self, expr: str) -> SparkFrame:
        """pandas df.eval("c = <expression>"): add a computed column from
        an expression string (single assignment form). The split point is
        the first `=` that is NOT part of ==/!=/<=/>= , so comparison
        RHS expressions survive intact."""
        pos = None
        quote = None
        escaped = False
        for i, ch in enumerate(expr):
            if quote is not None:
                if escaped:
                    escaped = False
                elif ch == "\\":
                    escaped = True
                elif ch == quote:
                    quote = None
                continue
            if ch in ("'", '"', "`"):
                quote = ch
            elif ch == "=":
                if expr[i + 1 : i + 2] == "=" or (i > 0 and expr[i - 1] in "=!<>"):
                    continue
                pos = i
                break
        if pos is None:
            raise ValueError("only the assignment form 'col = expression' is supported")
        name, rhs = expr[:pos], expr[pos + 1 :]
        return SparkFrame(
            self._df.withColumn(
                name.strip(), F.expr(self._translate_expr(rhs.strip()))
            )
        )

    def explode(self, column: str) -> SparkFrame:
        """pandas df.explode: one row per array element of ``column``;
        other columns (and the index) repeat; empty lists and nulls
        become a single NaN row (explode_outer). Distributed fan-out —
        no driver materialization."""
        others = [c for c in self._df.columns if c != column]
        return SparkFrame(
            self._df.select(*others, F.explode_outer(F.col(column)).alias(column))
            .select(*self._df.columns)
        )

    def isin(self, values) -> SparkFrame:
        """ref …dataframe_functions.py:2894-2992 — iterable, dict
        {col: iterable}, index-aligned Series, or column+index-aligned
        DataFrame."""
        if isinstance(values, dict):
            return SparkFrame(
                self._df.select(
                    IDX,
                    *[
                        F.col(c).isin(*list(values[c])).alias(c)
                        if c in values
                        else F.lit(False).alias(c)
                        for c in self.columns
                    ],
                )
            )
        if isinstance(values, SparkSeries):
            v = values._df.select(F.col(IDX), F.col(VAL).alias("__v__"))
            j = self._df.join(v, IDX, "left")
            return SparkFrame(
                j.select(
                    IDX,
                    *[
                        F.coalesce(F.col(c) == F.col("__v__"), F.lit(False)).alias(c)
                        for c in self.columns
                    ],
                )
            )
        if isinstance(values, SparkFrame):
            other_cols = set(values.columns)
            v = values._df.select(
                F.col(IDX), *[F.col(c).alias(f"__o_{c}") for c in values.columns]
            )
            j = self._df.join(v, IDX, "left")
            return SparkFrame(
                j.select(
                    IDX,
                    *[
                        F.coalesce(F.col(c) == F.col(f"__o_{c}"), F.lit(False)).alias(c)
                        if c in other_cols
                        else F.lit(False).alias(c)
                        for c in self.columns
                    ],
                )
            )
        return SparkFrame(
            self._df.select(IDX, *[F.col(c).isin(*list(values)).alias(c) for c in self.columns])
        )

    # -- relational (ref §2.3, §2.5, §2.7, §2.8) ---------------------------

    def merge(
        self,
        other: SparkFrame,
        on: Sequence[str] | str,
        how: str = "inner",
        suffixes: tuple[str, str] = ("_x", "_y"),
        indicator: bool = False,
        validate: str | None = None,
    ) -> SparkFrame:
        """pd.merge (legacy-only in the reference, test_join.py:52-414).
        Result index is reset (pandas semantics for non-index joins).

        ``validate`` ('1:1'/'1:m'/'m:1'/'m:m', pandas spelling with
        'one'/'many' also accepted) checks key uniqueness on the
        constrained side(s) EAGERLY (one max-count aggregate per side —
        an action, like pandas' eager validation) and raises ValueError
        on violation.

        SEMANTIC DRIFT (deliberate): the fresh index comes from
        ``monotonically_increasing_id`` — unique and plan-deterministic but
        NOT pandas' dense 0..n-1 (labels are partition-encoded longs). A
        dense re-index costs a full range shuffle for a property most
        pipelines never observe; call ``.reset_index()`` when dense labels
        matter (it routes through the distributed position machinery)."""
        keys = [on] if isinstance(on, str) else list(on)
        left = self._df.drop(IDX)
        right = other._df.drop(IDX)
        if validate is not None:
            norm = (
                validate.replace("one", "1").replace("many", "m").replace("_to_", ":")
            )
            if norm not in ("1:1", "1:m", "m:1", "m:m"):
                raise ValueError(f"invalid validate argument: {validate!r}")
            lc, rc = norm.split(":")
            for side, df_side, name in ((lc, left, "left"), (rc, right, "right")):
                if side != "1":
                    continue
                dup = (
                    df_side.groupBy(*keys)
                    .agg(F.count(F.lit(1)).alias("__c__"))
                    .agg(F.max("__c__"))
                    .collect()[0][0]
                )
                if dup is not None and dup > 1:
                    raise ValueError(
                        f"Merge keys are not unique in {name} dataset; "
                        f"not a {norm} merge"
                    )
        overlap = (set(left.columns) & set(right.columns)) - set(keys)
        for c in overlap:
            left = left.withColumnRenamed(c, f"{c}{suffixes[0]}")
            right = right.withColumnRenamed(c, f"{c}{suffixes[1]}")
        if indicator:
            # pandas merge(indicator=True): provenance column. Null-proof
            # presence flags (a key-matched row always has its side flag).
            left = left.withColumn("__l_present__", F.lit(True))
            right = right.withColumn("__r_present__", F.lit(True))
        joined = left.join(right, on=keys, how=how)
        if indicator:
            joined = joined.withColumn(
                "_merge",
                F.when(
                    F.col("__l_present__").isNotNull()
                    & F.col("__r_present__").isNotNull(),
                    F.lit("both"),
                )
                .when(F.col("__l_present__").isNotNull(), F.lit("left_only"))
                .otherwise(F.lit("right_only")),
            ).drop("__l_present__", "__r_present__")
        return SparkFrame(joined.withColumn(IDX, F.monotonically_increasing_id()))

    def append(self, other: SparkFrame, ignore_index: bool = True) -> SparkFrame:
        """ref …dataframe_functions.py:357-464 — schema-merging union,
        missing columns → NULL. Fresh index labels are unique but not dense
        0..n-1 (see merge docstring); ``.reset_index()`` densifies."""
        u = self._df.drop(IDX).unionByName(other._df.drop(IDX), allowMissingColumns=True)
        return SparkFrame(u.withColumn(IDX, F.monotonically_increasing_id()))

    def melt(
        self,
        id_vars: Sequence[str],
        value_vars: Sequence[str] | None = None,
        var_name: str = "variable",
        value_name: str = "value",
    ) -> SparkFrame:
        """pd.melt — wide-to-long reshape via Spark's native unpivot
        (Catalyst Expand: one pass, rows x len(value_vars) output, no
        shuffle). Fresh index labels (unique, not dense — see merge)."""
        ids = [id_vars] if isinstance(id_vars, str) else list(id_vars)
        vals = (
            list(value_vars)
            if value_vars is not None
            else [c for c in self.columns if c not in ids]
        )
        out = self._df.select(*ids, *vals).unpivot(
            ids, vals, var_name, value_name
        )
        return SparkFrame(out.withColumn(IDX, F.monotonically_increasing_id()))

    def sort_values(
        self,
        by: str | Sequence[str],
        ascending: bool | Sequence[bool] = True,
        na_position: str = "last",
    ) -> SparkFrame:
        """pandas df.sort_values: per-key ascending flags and
        na_position ('last'/'first'). Compiles to one Spark range-shuffle
        sort (Timsort in the reference — SURVEY §2.7)."""
        cols = [by] if isinstance(by, str) else list(by)
        asc = (
            [ascending] * len(cols)
            if isinstance(ascending, bool)
            else list(ascending)
        )
        if len(asc) != len(cols):
            raise ValueError("ascending length must match by length")
        keys = []
        for c, a in zip(cols, asc):
            col = F.col(c)
            if a:
                keys.append(
                    col.asc_nulls_last() if na_position == "last" else col.asc_nulls_first()
                )
            else:
                keys.append(
                    col.desc_nulls_last() if na_position == "last" else col.desc_nulls_first()
                )
        base = (
            self._df.drop("__ord__")
            if "__ord__" in self._df.columns
            else self._df
        )
        # attach the sorted rank as __ord__ (distributed positions — no
        # single-partition sort); original index labels ride along, pandas
        # sort_values semantics
        keys.append(F.col(IDX))  # stable tie-break, like kind='mergesort'
        return SparkFrame(sorder.with_position(base, keys, "__ord__"))

    def sort_index(self, ascending: bool = True) -> SparkFrame:
        """pandas df.sort_index over the __index__ labels. Ascending is the
        facade's natural materialization order (just drops any carried
        row order); descending attaches the reversed rank."""
        base = (
            self._df.drop("__ord__")
            if "__ord__" in self._df.columns
            else self._df
        )
        if ascending:
            return SparkFrame(base)
        return SparkFrame(
            sorder.with_position(base, [F.col(IDX).desc()], "__ord__")
        )

    def groupby(self, by: str | Sequence[str]):
        from sdc_spark.frame.groupby import FrameGroupBy

        return FrameGroupBy(self, [by] if isinstance(by, str) else list(by))

    def rolling(
        self,
        window: int,
        min_periods: int | None = None,
        center: bool = False,
        win_type=None,
        closed: str = "right",
    ):
        from sdc_spark.frame.rolling import FrameRolling

        return FrameRolling(self, window, min_periods, center, win_type, closed)

    def resample(self, rule: str, on: str):
        """Downsample into ``rule``-sized time buckets keyed by column
        ``on`` (pandas ``df.resample(rule, on=col)``): dense bucket axis,
        empty buckets -> null (count -> 0). Aggregates every numeric
        column; one map-side-combined shuffle."""
        from sdc_spark.frame.resample import FrameResampler

        cols = [c for c in self._numeric_cols() if c != on]
        return FrameResampler(self._df, on, rule, cols)

    # -- per-column reductions (ref codegen
    # sdc_pandas_dataframe_reduce_columns, …dataframe_functions.py:465-533) --

    def _numeric_cols(self) -> list[str]:
        return [c for c, t in self._df.dtypes if c in self.columns and t in NUMERIC]

    def _reduce(self, fn, cols: list[str]) -> dict:
        """``fn`` over each of ``cols`` in ONE aggregate pass, missing
        values masked to null first: Spark aggregates propagate or sort NaN
        (sum -> NaN, max -> NaN, percentile counts it as the largest value)
        while pandas reductions skip it. ``fn`` maps a Column to an
        aggregate Column."""
        fl = floats(self._df)
        row = self._df.agg(*[fn(valid(c, c in fl)).alias(c) for c in cols]).collect()[0]
        return {c: row[c] for c in cols}

    def _reduce_all(self, fn) -> pd.Series:
        return pd.Series(self._reduce(fn, self._numeric_cols()))

    def sum(self):
        return self._reduce_all(F.sum)

    def mean(self):
        return self._reduce_all(F.avg)

    def min(self):
        return self._reduce_all(F.min)

    def max(self):
        return self._reduce_all(F.max)

    def median(self):
        return self._reduce_all(F.median)

    def std(self):
        return self._reduce_all(F.stddev_samp)

    def var(self):
        return self._reduce_all(F.var_samp)

    def prod(self):
        return self._reduce_all(F.product)

    def count(self):
        return self._reduce_all(F.count)

    def corrwith(self, other: SparkFrame) -> pd.Series:
        """pandas df.corrwith(df): Pearson correlation of each shared
        numeric column, rows aligned on the index (inner join), all
        columns in ONE aggregate pass."""
        shared = [c for c in self._numeric_cols() if c in other._numeric_cols()]
        left = self._df.select(
            IDX, *[F.col(c).alias(f"__l_{c}") for c in shared]
        )
        right = other._df.select(
            IDX, *[F.col(c).alias(f"__r_{c}") for c in shared]
        )
        row = (
            left.join(right, IDX, "inner")
            .agg(*[F.corr(f"__l_{c}", f"__r_{c}").alias(c) for c in shared])
            .collect()[0]
        )
        return pd.Series({c: row[c] for c in shared})

    def nunique(self, dropna: bool = True) -> pd.Series:
        """Per-column exact distinct counts in ONE aggregate pass; NaN and
        null form one missing group, counted when ``dropna=False``."""

        def fn(v):
            if dropna:
                return F.count_distinct(v)
            return F.count_distinct(v) + F.coalesce(F.max(v.isNull().cast("int")), F.lit(0))

        return pd.Series(self._reduce(fn, self.columns))

    def quantile(self, q: float = 0.5) -> pd.Series:
        """Per-numeric-column exact quantile (linear interpolation), one
        aggregate pass."""
        return self._reduce_all(lambda c: F.percentile(c, F.lit(q)))

    def _pairwise(self, fn) -> pd.DataFrame:
        """k x k pairwise statistic in ONE partial-aggregated pass: k²/2
        agg expressions, a single shuffle of one combined row — the plan
        you want for wide-but-bounded k (the k x k result is driver-sized
        by definition, like describe)."""
        cols = self._numeric_cols()
        fl = floats(self._df)
        exprs = [
            fn(valid(a, a in fl), valid(b, b in fl)).alias(f"{i}_{j}")
            for i, a in enumerate(cols)
            for j, b in enumerate(cols)
            if i <= j
        ]
        row = self._df.agg(*exprs).collect()[0]
        out = pd.DataFrame(index=cols, columns=cols, dtype="float64")
        for i, a in enumerate(cols):
            for j, b in enumerate(cols):
                out.loc[a, b] = row[f"{min(i, j)}_{max(i, j)}"]
        return out

    def corr(self) -> pd.DataFrame:
        """Pairwise Pearson correlation matrix (pandas df.corr()); rows
        with NaN in either column are excluded pairwise, matching pandas'
        pairwise-complete semantics."""
        return self._pairwise(F.corr)

    def cov(self) -> pd.DataFrame:
        """Pairwise sample covariance matrix (pandas df.cov())."""
        return self._pairwise(F.covar_samp)

    def describe(self, include: str | None = None) -> pd.DataFrame:
        """ref …series_functions.py:4351 lifted per column, in ONE
        aggregate job either way. Numeric columns get count/mean/std/min/
        quartiles/max over their non-missing values; ``include='object'``
        switches to the string columns and the reference's
        count/unique/top/freq shape, ``top`` tied by first appearance (min
        index), as pandas' encounter order."""
        if include == "object":
            cols = [c for c, t in self._df.dtypes if c in self.columns and t == "string"]
            stats = ["count", "unique", "top", "freq"]
            got = {}
            if cols:
                per_val = (
                    self._df.unpivot(IDX, cols, "__c__", "__v__")
                    .filter(F.col("__v__").isNotNull())
                    .groupBy("__c__", "__v__")
                    .agg(F.count(F.lit(1)).alias("__n__"), F.min(IDX).alias("__first__"))
                )
                rows = per_val.groupBy("__c__").agg(
                    F.sum("__n__"),
                    F.count(F.lit(1)),
                    F.min_by("__v__", F.struct(-F.col("__n__"), F.col("__first__"))),
                    F.max("__n__"),
                ).collect()
                got = {r[0]: list(r[1:]) for r in rows}
            return pd.DataFrame(
                {c: got.get(c, [0, 0, None, None]) for c in cols}, index=stats
            )
        cols = self._numeric_cols()
        fl = floats(self._df)
        stats = ["count", "mean", "std", "min", "25%", "50%", "75%", "max"]
        aggs = []
        for c in cols:
            v = valid(c, c in fl)
            q = F.percentile(v, F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75)]))
            aggs += [F.count(v), F.avg(v), F.stddev_samp(v), F.min(v), q[0], q[1], q[2], F.max(v)]
        row = self._df.agg(*[a.alias(str(i)) for i, a in enumerate(aggs)]).collect()[0]
        return pd.DataFrame(
            {c: list(row[i * 8 : i * 8 + 8]) for i, c in enumerate(cols)}, index=stats
        )


def merge(
    left: "SparkFrame",
    right: "SparkFrame",
    on: Sequence[str] | str,
    how: str = "inner",
    suffixes: tuple[str, str] = ("_x", "_y"),
    indicator: bool = False,
    validate: str | None = None,
) -> "SparkFrame":
    """Module-level ``pd.merge`` spelling (the reference models it as
    ``pd.merge`` in tests — sdc/tests/test_join.py:52-414); delegates to
    SparkFrame.merge."""
    return left.merge(
        right, on=on, how=how, suffixes=suffixes, indicator=indicator,
        validate=validate,
    )
