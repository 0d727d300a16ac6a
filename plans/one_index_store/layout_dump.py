"""Run examples/index_takedown_lifecycle.py from a given checkout and dump
the persisted layout after each stage (build, takedown, compact).

usage: python plans/one_index_store/layout_dump.py <checkout_dir> <sf_dir> <out.json>

For every catalog table: bucket spec, location under the index root,
schema, row count and an order-insensitive row hash; for every directory
under the index roots: parquet file count, other files and the number of
distinct bucket ids in the file names; for the IVF parquet dirs: row
count and hash.
"""
import hashlib
import json
import os
import re
import sys
import tempfile

repo, sf_dir, out = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, repo)
os.chdir(repo)

import importlib.util

spec = importlib.util.spec_from_file_location(
    "lifecycle", os.path.join(repo, "examples/index_takedown_lifecycle.py")
)
ex = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ex)

ROOT = tempfile.mkdtemp(prefix="layout_dump_")
ex.tempfile = type("T", (), {"mkdtemp": staticmethod(lambda prefix="": ROOT)})
dumps = {}


def dump(stage, spark):
    tables = {}
    for t in sorted(x.name for x in spark.catalog.listTables()):
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        }
        spec = {
            k: desc.get(k)
            for k in ("Num Buckets", "Bucket Columns", "Sort Columns", "Provider", "Type")
        }
        loc = desc.get("Location", "")
        spec["Location"] = loc.split(ROOT, 1)[-1] if ROOT in loc else loc
        spark.catalog.refreshTable(t)
        df = spark.table(t)
        rows = sorted(repr(tuple(r)) for r in df.collect())
        spec["schema"] = df.schema.simpleString()
        spec["rows"] = len(rows)
        spec["hash"] = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
        tables[t] = spec
    dirs = {}
    for dp, dn, fn in os.walk(ROOT):
        rel = os.path.relpath(dp, ROOT)
        pq = [f for f in fn if f.endswith(".parquet")]
        buckets = sorted(
            {m.group(1) for f in pq if (m := re.search(r"_(\d{5})\.c\d+", f))}
        )
        dirs[rel] = {
            "parquet": len(pq),
            "other": sorted(f for f in fn if not f.endswith(".parquet") and not f.endswith(".crc")),
            "bucket_ids": len(buckets),
        }
    ivf = {}
    for sub in ("centroids", "cells", "tombstones"):
        p = f"{ROOT}/ivf/demo/{sub}"
        if os.path.isdir(p):
            rows = sorted(repr(tuple(r)) for r in spark.read.parquet(p).collect())
            ivf[sub] = {"rows": len(rows),
                        "hash": hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]}
    dumps[stage] = {"tables": tables, "dirs": dirs, "ivf": ivf}


orig_td, orig_ci = ex.takedown_documents, ex.compact_indexes


def td(spark, *a, **k):
    dump("build", spark)
    r = orig_td(spark, *a, **k)
    dump("takedown", spark)
    return r


def ci(spark, *a, **k):
    r = orig_ci(spark, *a, **k)
    dump("compact", spark)
    return r


ex.takedown_documents, ex.compact_indexes = td, ci
sys.argv = [sys.argv[0], sf_dir]
ex.main()
with open(out, "w") as f:
    json.dump(dumps, f, indent=1, sort_keys=True)
print("wrote", out)
