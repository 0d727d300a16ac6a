"""Write each named query's optimized logical plan, exprIds and plan ids
stripped, plus the plans of its eagerly materialized segments, to
``<out_dir>/<query>.txt``, so two checkouts' plans compare with ``diff``.

Usage (run from the checkout whose plans you want):
    python plans/one_column_frame/optimized_plans.py <sf_dir> <out_dir> <query> [query ...]
"""

import os
import re
import sys

sys.path.insert(0, os.getcwd())

import sdc_spark.plans.all  # noqa: E402,F401
from sdc_spark.materialize import start_plan_capture, stop_plan_capture  # noqa: E402
from sdc_spark.plans.registry import QUERIES  # noqa: E402
from sdc_spark.session import get_spark  # noqa: E402


def _strip(plan: str) -> str:
    return re.sub(r"#\d+L?", "#", re.sub(r"plan_id=\d+", "plan_id=", plan))


def main() -> None:
    sf_dir, out_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("optimized_plans")
    for name in names:
        cap = start_plan_capture()
        try:
            top = QUERIES[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        finally:
            stop_plan_capture()
        with open(os.path.join(out_dir, name + ".txt"), "w") as f:
            f.write(_strip(top))
            for i, seg in enumerate(cap):
                f.write(f"\n== materialized segment {i}\n" + _strip(seg))
        print("wrote", name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
