"""Segmented sweep under real memory pressure (r7 verdict #8).

The 128 GiB sandbox never pressures memory, so the segmented sweep's
spill story rested on AQE prose. This script makes it a measurement: a
DEDICATED low-memory session (2 GiB driver in local mode = executors
share it, memory.fraction squeezed to 0.15, local[4]) runs the segmented
sweep over sf3 (~2.6 M kept intervals → 5.2 M ±events), checks its
digest against the same digest of the DuckDB oracle's single-window
running sums (``sizing_sweep_running``), and reports the actual spill
volume from the status REST API. Exit 0 = bit-equality held under
pressure; the JSON line carries
the evidence (memoryBytesSpilled / diskBytesSpilled > 0, else the run
proves only headroom, not spill behavior — the test checks this).

Usage: python tools/sweep_pressure.py [sf_dir]   (default .testdata/sf3)
Driven by tests/test_sweep_under_pressure.py via subprocess (a fresh
JVM is the only way to pin driver memory).
"""

from __future__ import annotations

import json
import sys
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".testdata/sf3"

    import os

    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    from impala_base_to_cdw_sizing_spark.session import build_spark

    spark = build_spark(
        "sweep-pressure",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            # squeeze execution+storage memory so the per-bucket sorts
            # and the exchange genuinely spill at sf3 (~300 MB unified
            # memory against a multi-hundred-MB sort)
            "spark.memory.fraction": "0.15",
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",  # any free port; read back from uiWebUrl
        },
    )
    import __spark_entry__ as ent
    from impala_base_to_cdw_sizing_spark.operators.sweep import (
        MEASURES,
        explode_events,
        running_sums,
    )
    from tools.compare_oracle import duck_connection

    # Row digest computed inside each engine — collecting 10.5M rows into
    # a squeezed driver would thrash the driver heap and measure the
    # wrong thing. Every column enters as an exact DECIMAL(38,0) weighted
    # by event_pos, so a changed value or a permuted row changes it;
    # the same SQL text runs in Spark and DuckDB.
    terms = ["seq", "ts_ms", "sign", "run_queries"] + [
        f"floor(run_{m} * 1000000.0 + 0.5)" for m in MEASURES
    ]
    digest_sql = "SELECT COUNT(*) AS n, " + ", ".join(
        f"SUM(CAST({t} AS DECIMAL(38,0)) * event_pos) AS h{i}"
        for i, t in enumerate(terms)
    ) + " FROM running"

    running_sums(explode_events(ent._kept(spark, sf_dir))).createOrReplaceTempView(
        "running"
    )
    dg_spark = tuple(spark.sql(digest_sql).first())
    oracle = ent.oracle_sql()["sizing_sweep_running"]
    dg_duck = duck_connection(sf_dir).execute(
        f"WITH running AS ({oracle}) {digest_sql}"
    ).fetchone()
    equal = dg_spark == tuple(dg_duck)
    n_rows = dg_spark[0]

    # spill evidence from the status REST API (UI enabled above)
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
    )
    mem_spill = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk_spill = sum(s.get("diskBytesSpilled", 0) for s in stages)

    print(
        json.dumps(
            {
                "metric": "sweep_under_pressure",
                "sf_dir": sf_dir,
                "rows": int(n_rows),
                "matches_oracle": equal,
                "memoryBytesSpilled": mem_spill,
                "diskBytesSpilled": disk_spill,
                "driver_memory": "2g",
                "memory_fraction": 0.15,
                "shuffle_partitions": 8,
            }
        )
    )
    return 0 if (equal and n_rows > 0) else 1


if __name__ == "__main__":
    raise SystemExit(main())
