"""Run registry queries on a 2-executor ``local-cluster`` and check each
against its DuckDB oracle, recording the pickled size of every
``mapInPandas`` function the query builds.

Run it from a cwd outside the checkout with PYTHONPATH unset, so executor
Python workers can reach ``sdc_spark`` only through what the closures
carry:

    cd "$(mktemp -d)" && env -u PYTHONPATH \\
        python <checkout>/plans/one_arrow_row_stage/cluster_check.py \\
        <checkout> <sf_dir> <query> ...
"""

import os
import sys
import time

repo, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path.insert(0, repo)
sys.path.insert(0, os.path.join(repo, "tools"))

from pyspark import cloudpickle  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql.pandas import map_ops  # noqa: E402

sizes = []
_map_in_pandas = map_ops.PandasMapOpsMixin.mapInPandas


def _recording(self, func, schema, *args, **kwargs):
    sizes.append(len(cloudpickle.dumps(func)))
    return _map_in_pandas(self, func, schema, *args, **kwargs)


map_ops.PandasMapOpsMixin.mapInPandas = _recording

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
import sdc_spark  # noqa: E402
from sdc_spark.sources.readers import TABLES, table_path  # noqa: E402

# after the package: check_correctness puts its own checkout first on sys.path
from check_correctness import canonicalize, frame_hash  # noqa: E402

print("sdc_spark from", sdc_spark.__file__, flush=True)
spark = (
    SparkSession.builder.master("local-cluster[2,1,1536]")
    .appName("cluster_check")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
queries, oracles = entry.queries(), entry.oracle_sql()
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
for name in names:
    sizes.clear()
    t0 = time.time()
    try:
        got = canonicalize(queries[name](spark, sf_dir).toPandas())
        want = canonicalize(con.sql(oracles[name]).df())
        same = list(got.columns) == list(want.columns) and frame_hash(got) == frame_hash(want)
        res = "PASS" if same else "MISMATCH"
    except Exception as e:  # noqa: BLE001 — report and go on to the next query
        msg = str(e)
        res = "FAIL " + ("ModuleNotFoundError" if "ModuleNotFoundError" in msg else f"{type(e).__name__}: {msg[:200]}")
    kb = [round(s / 1024, 1) for s in sizes]
    print(f"{name}: {res} closures_kb={kb} [{time.time() - t0:.1f}s]", flush=True)
spark.stop()
