"""EP2 end-to-end WITH sinks on disk (r7 verdict #5).

``bench.py``'s ep2_full_pipeline row measures derive→classify→route→
aggregate→sweep→report with a noop sink; the reference's actual mode
also writes three CSV outputs. This tool runs the complete program —
pipeline + ``write_sizing_outputs`` (main/pruned/skipped) + reports —
against a real on-disk sink directory and prints ONE JSON line with the
wall time, per-sink row counts, and per-sink part-file counts (the
distributed-layout witness: one directory of part files, not one
serialized file).

Usage: SPARK_GRAFT_SF_DIR=... python tools/ep2_bench.py [outdir]
Run at two sfs and feed the totals to tools/scaling_report.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def run_ep2_with_sinks(spark, sf_dir: str, out_dir: str) -> dict:
    from impala_base_to_cdw_sizing_spark.__main__ import _project24
    from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
    from impala_base_to_cdw_sizing_spark.operators.classify import classify
    from impala_base_to_cdw_sizing_spark.plans.pipeline import run_sizing
    from impala_base_to_cdw_sizing_spark.plans.reports import collect_report_values
    from impala_base_to_cdw_sizing_spark.schemas import OUTPUT_FIELDS
    from impala_base_to_cdw_sizing_spark.sinks import write_sizing_outputs
    from impala_base_to_cdw_sizing_spark.sources.synthetic import (
        query_history_from_events,
    )
    from pyspark.sql import functions as F

    def _with_times(df):
        # the synthetic history carries epoch-millis only; the 24-column
        # contract wants the API's ISO strings — derive them (same info)
        fmt = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
        return df.withColumns(
            {
                "start_time": F.date_format(
                    F.timestamp_millis(F.col("start_ms")), fmt
                ),
                "end_time": F.date_format(F.timestamp_millis(F.col("end_ms")), fmt),
            }
        )

    t0 = time.perf_counter()
    res = run_sizing(query_history_from_events(spark, sf_dir), DEFAULT_PARAMS)
    paths = {
        "kept": f"{out_dir}/sizing.csv",
        "pruned": f"{out_dir}/sizing.csv.pruned",
        "skipped": f"{out_dir}/sizing.csv.skipped",
    }
    counts = write_sizing_outputs(
        kept=_project24(_with_times(res.classified_kept)),
        pruned=_project24(_with_times(classify(res.routed.pruned))),
        skipped=res.routed.skipped,
        output_cols=OUTPUT_FIELDS,
        main_path=paths["kept"],
        pruned_path=paths["pruned"],
        skipped_path=paths["skipped"],
    )
    collect_report_values(res, DEFAULT_PARAMS)
    elapsed = round(time.perf_counter() - t0, 3)
    res.routed.derived.unpersist()

    def _parts(p: str) -> int:
        d = Path(p)
        if not d.exists():
            return -1  # lazy sink never opened (the B2 contract)
        return sum(1 for f in d.iterdir() if f.name.startswith("part-"))

    return {
        "metric": "ep2_with_sinks",
        "value": elapsed,
        "unit": "sec",
        "rows": counts,
        "part_files": {k: _parts(v) for k, v in paths.items()},
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="ep2sink_")
    from impala_base_to_cdw_sizing_spark.session import build_spark

    spark = build_spark("ep2-sinks")
    try:
        print(json.dumps(run_ep2_with_sinks(spark, sf_dir, out_dir)))
    finally:
        if len(sys.argv) <= 1:
            shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
