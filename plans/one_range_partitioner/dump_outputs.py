"""Exact output fingerprint of every registered query, for a parent/change
comparison: each query's rows are collected, every value is written with
``repr`` (so floats compare bit for bit), rows are sorted and hashed.

Usage (run from the checkout to fingerprint):
    python plans/one_range_partitioner/dump_outputs.py <sf_dir> <out.json> [query ...]
Compare two dumps with ``python -c`` or ``diff``: equal hashes mean equal
outputs.
"""

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())

import sdc_spark.plans.all  # noqa: E402,F401
from sdc_spark.plans.registry import QUERIES  # noqa: E402
from sdc_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir, out, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark("dump_outputs")
    res = {}
    for name in names or list(QUERIES):
        t0 = time.time()
        try:
            rows = QUERIES[name](spark, sf_dir).collect()
            canon = sorted("\x1f".join(repr(v) for v in r) for r in rows)
            digest = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()[:16]
            res[name] = f"{len(rows)}:{digest}"
        except Exception as e:  # noqa: BLE001
            res[name] = f"ERR {type(e).__name__}: {str(e)[:200]}"
        print(name, res[name], f"{time.time() - t0:.1f}s", flush=True)
    with open(out, "w") as f:
        json.dump(res, f, indent=0)


if __name__ == "__main__":
    main()
