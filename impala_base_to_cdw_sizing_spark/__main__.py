"""CLI entry point — the reference's EP2 replay invocation re-expressed:

    python -m impala_base_to_cdw_sizing_spark <sizing.conf>

Validates argv exactly like the reference (one config argument, file must
exist — ``impala_query_sizing.py:58-69``), runs the replay pipeline
(CSV/parquet input → derive → classify → route → sinks → reports), prints
the five report sections, and writes the three output files if configured.
"""

from __future__ import annotations

import sys
from pathlib import Path


def main(argv: list[str] | None = None) -> int:
    if argv is None:  # console-script entry: ``cdw-sizing <sizing.conf>``
        argv = sys.argv
    if len(argv) != 2:
        print("ERROR: Config file parameter required")
        return 1
    if not Path(argv[1]).exists():
        print("Config file doesn't exist")
        return 1
    print(f"Config file: {argv[1]}")

    from .config import parse_conf
    from .operators.classify import classify
    from .plans.pipeline import run_sizing
    from .plans.reports import collect_report_values, format_reports
    from .schemas import OUTPUT_FIELDS
    from .session import build_spark
    from .sinks import write_sizing_outputs
    from .sources.files import read_query_history_csv

    params = parse_conf(argv[1])
    if not params.input_file and not params.cm_url:
        print("ERROR: set input_file (EP2 replay) or cm_url (EP1 API mode)")
        return 1

    from pyspark.errors import PySparkException

    from .plans.pipeline import prepare_query_history, run_api_sizing

    if params.input_file:
        spark = build_spark("sizing-replay")
        # a malformed field fails its task, and log4j would print the
        # failure with its JVM stack next to the one ERROR line below:
        # the JVM log is off for the read and sizing, and the caller's
        # session gets its level back after
        log_level = _root_log_level(spark)
        spark.sparkContext.setLogLevel("OFF")
        # replay rows use ISO string timestamps; the shared boundary
        # adapter projects the engine's epoch-millis interval columns and
        # a deterministic shuffle-free seq (xxhash64(query_id)) so replay
        # and API ingest order ties identically regardless of input
        # partitioning
        try:
            qh = prepare_query_history(read_query_history_csv(spark, params.input_file))
            result = run_sizing(qh, params)
        except PySparkException as e:
            # the reader's raise_error on a malformed field surfaces here,
            # in run_sizing's eager sweep pass over every derive input,
            # before any sink is written; its first line names the field
            # and value, the rest is the JVM stack. Any other Spark
            # failure is not an input error and keeps its full trace.
            if e.getCondition() != "USER_RAISED_EXCEPTION":
                raise
            reason = str(e).strip().splitlines()[0]
            print(f"ERROR: reading replay input {params.input_file} failed: {reason}")
            return 1
        finally:
            spark.sparkContext.setLogLevel(log_level)
    else:
        spark = build_spark("sizing-api")
        try:
            result = run_api_sizing(spark, params)
        except Exception as e:  # noqa: BLE001 — fail fast with a clear line
            # the reference dies with a raw traceback on an unreachable
            # CM host (urllib2 inside the page loop); the engine keeps
            # the fail-fast contract but names the failure
            print(f"ERROR: API fetch from {params.cm_url} failed: {e}")
            return 1

    if params.output_file:
        write_sizing_outputs(
            kept=_project24(result.classified_kept),
            pruned=_project24(classify(result.routed.pruned)),
            skipped=result.routed.skipped,
            output_cols=OUTPUT_FIELDS,
            main_path=params.output_file,
            pruned_path=params.prune_output_file or params.output_file + ".pruned",
            skipped_path=params.skip_query_file or params.output_file + ".skipped",
        )

    print(format_reports(collect_report_values(result, params)))
    return 0


def _root_log_level(spark) -> str:
    """The JVM root logger's level, as ``setLogLevel`` takes it."""
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    return log4j.LogManager.getRootLogger().getLevel().name()


def _project24(df):
    """Map engine column names onto the reference's 24-column contract
    (header typo ``in_executor_pod_spill`` preserved — SURVEY §1.3)."""
    return df.selectExpr(
        "query_id", "pool", "start_time", "end_time", "duration_millis",
        "reqd_cache_gb", "min_exec_pod_cache", "tsize_cache",
        "reqd_agg_mem", "min_exec_pod_mem", "tsize_mem",
        "cpu_time_sec", "query_sla_sec",
        "min_parallelism AS reqd_parallelism_cpu",
        "min_exec_pod_cpu", "tsize_cpu",
        "memory_spilled_gb", "min_exec_pod_spill AS in_executor_pod_spill",
        "tsize_spill",
        "min_executor_pod", "recommended_tsize",
        "query_type", "admission_wait", "num_backends",
    )


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
