"""Plan audit: physical-plan shape metrics for every declared query.

SCALE.md's exchange/scan audit was produced by hand; this tool makes it
reproducible: for each ``queries()`` entry it prints ONE line of JSON
with the operator counts that matter at 100 TB — shuffles (Exchange),
scans (FileScan), broadcast vs sort-merge joins, row_number windows,
and whether any cartesian product or row-at-a-time Python eval snuck
in. Run it after touching an operator; diff against the previous run.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

METRICS = {
    "exchanges": "Exchange",
    "scans": "FileScan",
    "broadcast_joins": "BroadcastHashJoin",
    "sortmerge_joins": "SortMergeJoin",
    "bnl_joins": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "windows": "Window",
    "python_eval": "BatchEvalPython",  # row-at-a-time UDF — forbidden
    "arrow_eval": "ArrowEvalPython",  # vectorized pandas UDF — sanctioned
    # eager localCheckpoint materializations surface as ExistingRDD
    # scans — their presence proves the shared subplan is served from
    # the materialized form, not recomputed per read (r5 verdict #2)
    "rdd_scans": "Scan ExistingRDD",
    "inmemory_scans": "InMemoryTableScan",
}


def audit_plan(plan: str) -> dict[str, int]:
    return {k: plan.count(tok) for k, tok in METRICS.items()}


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as ent
    from impala_base_to_cdw_sizing_spark.session import build_spark

    spark = build_spark("plan-audit")
    for name, fn in ent.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": name, "error": str(e)[:200]}))
            continue
        finally:
            spark.catalog.clearCache()
        print(json.dumps({"query": name, **audit_plan(plan)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
