"""Plan audit: for each registered query, inspect the physical plan for the
scale-critical properties — parquet filter pushdown, pruned ReadSchema,
broadcast vs sort-merge joins, whole-stage codegen coverage, shuffle count,
and window expressions evaluated more than once inside one Window node
(``win=`` expressions, ``dupwin=`` repeats, flagged ``DUP-WINDOW``: Spark
extracts every reference to ``agg.over(w)`` as its own window expression,
and a sliding ROWS frame recomputes each one per row).

Usage: python tools/explain_audit.py [sf_dir] [query ...]
       python tools/explain_audit.py --show q1_pricing_summary   # full plan
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sdc_spark.session import get_spark  # noqa: E402


def window_nodes(plan: str) -> list[list[str]]:
    """The expressions of every ``Window [...]`` node in a plan string, with
    exprIds and output aliases removed so that two evaluations of the same
    aggregate over the same spec compare equal. Only the final plan of an
    executed adaptive plan is read (its initial plan repeats every node).
    The plan string must be untruncated (``materialize.plan_string``), or
    long nodes end in "... N more fields"."""
    plan = plan.split("== Initial Plan ==")[0]
    nodes = []
    for m in re.finditer(r"\bWindow \[", plan):
        depth, start, exprs = 0, m.end(), []
        for i in range(m.end() - 1, len(plan)):
            ch = plan[i]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0:
                    exprs.append(plan[start:i])
                    break
            elif ch == "," and depth == 1:
                exprs.append(plan[start:i])
                start = i + 1
        nodes.append(
            [re.sub(r"#\d+L?", "", re.sub(r"\s+AS\s+\S+$", "", e.strip())) for e in exprs]
        )
    return nodes


def duplicate_windows(plan: str) -> int:
    """Window expressions repeated inside one Window node, summed over nodes."""
    return sum(len(n) - len(Counter(n)) for n in window_nodes(plan))


def audit(plan: str) -> dict:
    return {
        # any file-backed scan (parquet/csv/json/orc/text) plus DSv2
        # BatchScan (the npbin custom DataSource) — counting only parquet
        # made the non-parquet source queries look scanless
        "scans": len(re.findall(r"FileScan |BatchScan ", plan)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]*(?:IsNotNull|LessThan|GreaterThan|EqualTo|In\()", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shuffles": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan)),
        # codegen spans print as "*(n) Op" in treeString (and as
        # "WholeStageCodegen (n)" in formatted explain)
        "wscg_spans": len(
            set(re.findall(r"\*\((\d+)\)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        ),
        "full_readschema": len(re.findall(r"ReadSchema: struct<[^>\n]{400,}", plan)),
        "win": sum(map(len, window_nodes(plan))),
        "dupwin": duplicate_windows(plan),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    show = "--show" in sys.argv
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)

    import sdc_spark.plans.all  # noqa: F401
    from sdc_spark.plans.registry import QUERIES

    from sdc_spark.materialize import plan_string, start_plan_capture, stop_plan_capture

    spark = get_spark("explain_audit")
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            # capture the plans materialize() executes too: an eager
            # checkpoint runs its scan BEFORE the consumer plan exists, so
            # without this the checkpoint-fed queries audit as scans=0 and
            # their pushdown is unverifiable (round-8 verdict blind spot)
            cap = start_plan_capture()
            df = fn(spark, sf_dir)
            # run the query so AQE finalizes stages — the pre-execution
            # adaptive plan hides codegen spans and runtime-replanned joins
            df.write.format("noop").mode("overwrite").save()
            plan = plan_string(df)
            seg_plans = list(cap)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            continue
        finally:
            stop_plan_capture()
        if show:
            print(f"===== {name} =====")
            print(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
            for i, sp in enumerate(seg_plans):
                print(f"----- {name} materialized segment {i} -----")
                print(sp)
        else:
            a = audit(plan)
            # fold the materialized segments' scans/pushdown into the row:
            # the segments ARE where checkpoint-fed queries read parquet
            for sp in map(audit, seg_plans):
                for k in a:
                    a[k] += sp[k]
            flags = []
            if a["full_readschema"]:
                flags.append("WIDE-SCAN")
            if a["smj"] and not a["broadcast_joins"]:
                flags.append("SMJ-ONLY")
            if a["dupwin"]:
                flags.append("DUP-WINDOW")
            print(
                f"{name:28s} scans={a['scans']} pushed={a['pushed_filters']} "
                f"bcast={a['broadcast_joins']} smj={a['smj']} shuffles={a['shuffles']} "
                f"wscg={a['wscg_spans']} mat={len(seg_plans)} win={a['win']} "
                f"dupwin={a['dupwin']} {' '.join(flags)}"
            )


if __name__ == "__main__":
    main()
