"""sdc_spark — a PySpark-native analytics engine with the capabilities of
IntelPython/sdc (the Intel Scalable Dataframe Compiler), rebuilt Spark-first.

The reference (/root/reference, IntelPython/sdc) is a single-node Numba JIT
compiler for a statically-typed subset of the pandas API. This package
re-expresses that operator surface — sources, projection/filter, joins,
aggregations, groupby, rolling windows, sorts, set ops, string/datetime/math
scalar functions, map/apply UDFs — as idiomatic PySpark: DataFrame/SQL plans
optimized by Catalyst, built-in `pyspark.sql.functions` for everything
expressible, Arrow-vectorized pandas UDFs only where built-ins genuinely
cannot express the semantics.

Layout
------
- ``sdc_spark.session``    — tuned SparkSession builder.
- ``sdc_spark.sources``    — readers/writers (parquet, csv with the
  reference's read_csv parameter surface, json, binary).
- ``sdc_spark.functions``  — expression builders with pandas edge semantics
  (NaN-aware aggregation, floordiv/mod/zero-division, string methods,
  datetime fields) plus text-analysis functions.
- ``sdc_spark.operators``  — composite distributed operators: joins
  (incl. merge_asof), rolling windows, top-k, dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding), similarity search, multimodal.
- ``sdc_spark.frame``      — a pandas-like ``SparkFrame``/``SparkSeries``
  facade over Spark DataFrames mirroring the reference's user API.
- ``sdc_spark.plans``      — headline analytical queries used by the driver
  entrypoint and the benchmark.
- ``sdc_spark.streaming``  — Structured Streaming helpers (watermarks,
  tumbling/sliding/session windows, stateful ops) — capability the batch-only
  reference lacks.
"""

__version__ = "0.1.0"

import sys

from pyspark import cloudpickle

# Arrow stages ship closures that call module-level sdc_spark functions.
# Pickle the whole package by value so executor Python workers never have
# to import sdc_spark: they need no PYTHONPATH and may start in any cwd.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from sdc_spark.session import get_spark  # noqa: E402, F401
