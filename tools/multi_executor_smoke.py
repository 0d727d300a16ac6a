"""Multi-executor smoke: run the machinery whose correctness depends on
cross-executor coordination on a REAL 2-executor cluster
(``local-cluster[2,2,2048]`` — two separate executor JVMs with their own
block managers, not local[N]'s single JVM), under the cluster-durable
materialize mode (``persist`` + a reliable checkpoint dir).

What it pins, and why these specifically:

- the distributed total-order machinery (``with_position`` / ``scan``,
  its ``last`` fill included / ``scan_ewm``): its P-row per-partition offset
  tables are computed on executors and BROADCAST back — a single-JVM run
  cannot tell a real broadcast from a local reference;
- the Arrow stages whose closures call module-level ``sdc_spark``
  functions (``scan_ewm``'s decay passes, the multimodal decoders through
  ``arrow.map_rows``, the ``npbin`` Python data source), five of them as
  whole queries checked against their DuckDB oracles at sf0.001. The
  executors get no ``PYTHONPATH`` and their Python workers start outside
  the repo, as on a real cluster: ``sdc_spark`` registers itself with
  cloudpickle by value, so no worker ever imports it;
- a full persisted posting-index lifecycle (write → serve → append →
  serve → tombstone delete → serve → compact → serve), with the index
  ``path_root`` on a directory every executor can reach. On this
  simulated cluster all workers share the host filesystem; on a real
  fleet the same argument must point at shared storage (HDFS/S3) — the
  ``/tmp`` defaults are single-host conveniences, documented as such;
- ``materialize`` under ``mode=persist`` (+ checkpoint-dir escalation
  for ``truncate=True``), the long-running-cluster configuration,
  exercised across executor boundaries instead of local[N].

Run directly (``python tools/multi_executor_smoke.py``, from any cwd) or
through tests/test_multi_executor.py, which subprocesses it from a
temporary cwd with ``PYTHONPATH`` unset (the pytest session already owns
a local JVM; a second master needs its own).

Prints ``MULTI_EXECUTOR_SMOKE_OK`` on success; any assertion raises.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="sdc_mx_smoke_")
    spark = (
        SparkSession.builder.master("local-cluster[2,2,2048]")
        .appName("sdc-multi-executor-smoke")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        # cluster-durable materialization: persist + reliable checkpoints
        .config("spark.sdc.materialize.mode", "persist")
        .config("spark.sdc.checkpoint.dir", f"{work}/checkpoints")
        .getOrCreate()
    )
    try:
        # executor JVMs register asynchronously; run a real job and wait
        import time

        spark.range(0, 1000, 1, 8).groupBy((F.col("id") % 3)).count().count()
        deadline = time.time() + 120
        n_exec = 0
        while time.time() < deadline:
            n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
            if n_exec >= 3:
                break
            time.sleep(1)
        assert n_exec >= 3, f"expected 2 executors + driver, saw {n_exec}"

        _order_machinery(spark)
        _arrow_queries(spark)
        _posting_lifecycle(spark, f"{work}/postidx")
        print("MULTI_EXECUTOR_SMOKE_OK")
    finally:
        spark.stop()


def _order_machinery(spark) -> None:
    """with_position / scan (sum, max, last) / scan_ewm vs a driver-side oracle,
    on data laid out to straddle both executors."""
    import random

    from pyspark.sql import functions as F

    import pandas as pd

    from sdc_spark.operators.order import scan, scan_ewm, with_position

    rng = random.Random(7)
    rows = [
        (i, rng.randint(0, 999), rng.random() if rng.random() > 0.3 else None)
        for i in range(5000)
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id long, k long, v double").repartition(8)

    got_pos = {
        r["id"]: r["p"]
        for r in with_position(df, ["k", "id"], "p").select("id", "p").collect()
    }
    expect_order = [i for i, _, _ in sorted(rows, key=lambda t: (t[1], t[0]))]
    assert got_pos == {i: p for p, i in enumerate(expect_order)}, "with_position"

    got_scan = {
        r["id"]: (r["cs"], r["cm"])
        for r in scan(
            df, ["k", "id"], {"cs": ("sum", F.col("k")), "cm": ("max", F.col("k"))}
        )
        .select("id", "cs", "cm")
        .collect()
    }
    cs = cm = 0
    by_id = {i: (k, v) for i, k, v in rows}
    for i in expect_order:
        k = by_id[i][0]
        cs += k
        cm = max(cm, k)
        assert got_scan[i] == (cs, cm), f"scan at id={i}"

    got_fill = {
        r["id"]: r["v"]
        for r in scan(df, ["k", "id"], {"v": ("last", F.col("v"))}).select("id", "v").collect()
    }
    carry = None
    for i in expect_order:
        if by_id[i][1] is not None:
            carry = by_id[i][1]
        assert got_fill[i] == carry, f"scan last at id={i}"

    got_ewm = (
        scan_ewm(df.select("k", "id", "v"), [], ["k", "id"], ["v"], 0.3, "mean")
        .orderBy("k", "id")
        .toPandas()["v"]
    )
    exp_ewm = pd.Series([by_id[i][1] for i in expect_order], dtype="float64").ewm(alpha=0.3).mean()
    pd.testing.assert_series_equal(
        got_ewm, exp_ewm, check_names=False, check_index=False, rtol=1e-9
    )


# queries whose Arrow closures call module-level sdc_spark functions: the
# multimodal row stages and payload synthesizers, and the npbin data source
ARROW_QUERIES = (
    "multimodal_decode_png",
    "multimodal_resize",
    "dedup_image_phash",
    "multimodal_video_frames",
    "src_np_datasource",
)


def _arrow_queries(spark) -> None:
    """Each of ARROW_QUERIES against its DuckDB oracle (the correctness
    gate's canonical value hash)."""
    import duckdb

    import __spark_entry__ as entry
    from sdc_spark.sources.readers import TABLES, table_path

    # after the package: check_correctness puts its own checkout first on
    # sys.path, and this checkout's modules are already imported
    from check_correctness import canonicalize, frame_hash

    sf_dir = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    for name in ARROW_QUERIES:
        got = canonicalize(queries[name](spark, sf_dir).toPandas())
        want = canonicalize(con.sql(oracles[name]).df())
        assert list(got.columns) == list(want.columns), f"{name}: columns"
        assert frame_hash(got) == frame_hash(want), f"{name}: values differ from the oracle"


def _posting_lifecycle(spark, path_root: str) -> None:
    """write → serve → append → serve → tombstone delete → serve →
    compact → serve, each serve checked against in-session batch BM25
    over the same corpus snapshot."""
    from pyspark.sql import functions as F

    import sdc_spark.operators.retrieval as sret

    sf_dir = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    q = spark.createDataFrame(
        [(0, "vector"), (0, "hash"), (1, "merge"), (1, "stream")],
        "qid int, term string",
    )
    name = "mxsmoke"

    def served():
        return {
            (r["qid"], r["doc"]): (r["n_hit_terms"], round(r["score"], 9))
            for r in sret.bm25_from_index(spark, name, q).collect()
        }

    def insession(corpus):
        return {
            (r["qid"], r["doc"]): (r["n_hit_terms"], round(r["score"], 9))
            for r in sret.bm25_multi(corpus, q, "text", "doc_id").collect()
        }

    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    sret.drop_posting_index(spark, name, path_root=path_root)
    sret.write_posting_index(spark, base, "text", "doc_id", name, path_root=path_root)
    assert served() == insession(base), "serve after write"

    sret.append_posting_index(spark, batch, "text", "doc_id", name)
    assert served() == insession(docs), "serve after append"

    gone = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    sret.delete_from_posting_index(spark, gone, name, path_root=path_root)
    survivors = docs.filter(F.col("doc_id") % 7 != 0)
    assert served() == insession(survivors), "serve after tombstone delete"

    before = served()
    sret.compact_posting_index(spark, name, path_root=path_root)
    assert served() == before, "serve after compaction"
    sret.drop_posting_index(spark, name, path_root=path_root)


if __name__ == "__main__":
    main()
