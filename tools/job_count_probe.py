"""Wall + Spark-job-count probe for iterative queries (r15).

Times each named declared query with the noop sink and counts the
jobs each rep schedules (setJobGroup + statusTracker), printing one JSON
line with per-rep ``walls`` and ``jobs`` lists. Every rep starts cold:
the Spark cache and every in-process memo are cleared first, so the
warm-up rep and later reps are comparable. Used for job-count A/Bs
(the fixed-point driver's small-plan gate, plan refactors that must
keep a query's job count).

Usage: SPARK_GRAFT_SF_DIR=... python tools/job_count_probe.py name ...
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as ent
    from impala_base_to_cdw_sizing_spark import memo
    from impala_base_to_cdw_sizing_spark.session import build_spark

    spark = build_spark("job-count-probe", data_dir=sf_dir)
    sc = spark.sparkContext
    registry = ent.queries()
    names = sys.argv[1:]
    missing = set(names) - set(registry)
    if missing:
        sys.exit(f"unknown queries: {sorted(missing)}")
    out: dict[str, dict] = {}
    reps = int(os.environ.get("PROBE_REPS", "3"))
    for name in names:
        walls, jobs = [], []
        for rep in range(reps):
            spark.catalog.clearCache()
            memo.clear()
            group = f"{name}-rep{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            registry[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.perf_counter() - t0, 3))
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        out[name] = {"wall_min": min(walls), "walls": walls, "jobs": jobs}
    print(json.dumps({"probe": out, "load1": os.getloadavg()[0]}))


if __name__ == "__main__":
    main()
