"""Column names and Spark types of the EP2 replay path, pinned as literal
DDL. The pipeline builds these frames from Spark SQL text, where an
unsuffixed ``100.0`` parses as DECIMAL; a literal that drifts that way
changes a type here, in the fast tier, before any oracle sweep runs."""

from __future__ import annotations

import csv
from pathlib import Path

import pytest

from impala_base_to_cdw_sizing_spark.__main__ import _project24
from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
from impala_base_to_cdw_sizing_spark.operators.aggregates import report_aggregate
from impala_base_to_cdw_sizing_spark.plans.pipeline import (
    prepare_query_history,
    run_sizing,
)
from impala_base_to_cdw_sizing_spark.plans.reports import (
    collect_report_values,
    report_values_df,
)
from impala_base_to_cdw_sizing_spark.sources.files import read_query_history_csv
from tests.test_replay_cli import HEADER, ROWS

_INPUT = (
    "query_id STRING,pool STRING,start_time STRING,end_time STRING,"
    "duration_millis BIGINT,reqd_cache_gb DOUBLE,reqd_agg_mem DOUBLE,"
    "memory_spilled_gb DOUBLE,cpu_time_sec DOUBLE,query_type STRING,"
    "admission_wait BIGINT,num_backends BIGINT,start_ms BIGINT,end_ms BIGINT,"
    "seq BIGINT NOT NULL"
)
DERIVED = (
    _INPUT + ",duration_sec DOUBLE,query_sla_sec DOUBLE,min_parallelism BIGINT,"
    "avg_vcores DOUBLE,avg_mem DOUBLE,avg_data DOUBLE,avg_data_rate DOUBLE,"
    "avg_spill DOUBLE,pod_cache_raw DOUBLE,min_exec_pod_cache BIGINT,"
    "pod_mem_raw DOUBLE,min_exec_pod_mem BIGINT,pod_cpu_raw DOUBLE,"
    "min_exec_pod_cpu BIGINT,pod_spill_raw DOUBLE,min_exec_pod_spill BIGINT,"
    "min_executor_pod_raw DOUBLE,min_executor_pod BIGINT"
)
CLASSIFIED_KEPT = (
    DERIVED + ",tsize_cache STRING,tsize_mem STRING,tsize_cpu STRING,"
    "tsize_spill STRING,recommended_tsize STRING"
)
PROJECT24 = (
    "query_id STRING,pool STRING,start_time STRING,end_time STRING,"
    "duration_millis BIGINT,reqd_cache_gb DOUBLE,min_exec_pod_cache BIGINT,"
    "tsize_cache STRING,reqd_agg_mem DOUBLE,min_exec_pod_mem BIGINT,"
    "tsize_mem STRING,cpu_time_sec DOUBLE,query_sla_sec DOUBLE,"
    "reqd_parallelism_cpu BIGINT,min_exec_pod_cpu BIGINT,tsize_cpu STRING,"
    "memory_spilled_gb DOUBLE,in_executor_pod_spill BIGINT,tsize_spill STRING,"
    "min_executor_pod BIGINT,recommended_tsize STRING,query_type STRING,"
    "admission_wait BIGINT,num_backends BIGINT"
)
_CELLS = ",".join(
    f"{dim}_{size} BIGINT NOT NULL"
    for dim in ("count", "cache", "mem", "cpu", "spill")
    for size in ("XSMALL", "SMALL", "MEDIUM", "LARGE", "CUSTOM")
)
REPORT_AGGREGATE = (
    "total_queries BIGINT NOT NULL,prune_count BIGINT NOT NULL,"
    "kept_queries BIGINT NOT NULL,max_backends BIGINT,max_vcores DOUBLE,"
    "max_mem DOUBLE,max_data DOUBLE,max_data_rate DOUBLE,max_spill DOUBLE,"
    "min_executor_pod_workload BIGINT,pools ARRAY<STRING> NOT NULL,"
    "highest_resources_query_id STRING,total_query_time DOUBLE,"
    "util_mem DOUBLE,util_cpu DOUBLE,util_cache DOUBLE,util_spill DOUBLE,"
    + _CELLS
    + ",tsize_workload STRING,cache_util_pct DOUBLE,mem_util_pct DOUBLE,"
    "cpu_util_pct DOUBLE,spill_util_pct DOUBLE"
)
SWEEP_MAXIMA = (
    "max_concurrent_queries BIGINT,max_pods_workload DOUBLE,"
    "max_concurrent_cache DOUBLE,max_concurrent_memory DOUBLE,"
    "max_concurrent_cores DOUBLE,max_concurrent_spill DOUBLE,"
    "max_concurrent_data_rate DOUBLE,max_pods_workload_ts_ms BIGINT"
)
REPORT_VALUES_ROW = (
    "total_queries BIGINT NOT NULL,total_query_time_sec DOUBLE,"
    "highest_resources_query_id STRING,max_nodes BIGINT,"
    "max_cores_per_node DOUBLE,max_data_per_node_gb DOUBLE,"
    "max_spill_per_node_gb DOUBLE,max_memory_per_node_gb DOUBLE,"
    "max_data_rate DOUBLE,n_pools BIGINT NOT NULL,prune_count BIGINT NOT NULL,"
    "max_concurrent_queries BIGINT,max_concurrent_ts_ms BIGINT,"
    "max_concurrent_cores DOUBLE,max_concurrent_data_gb DOUBLE,"
    "max_concurrent_spill_gb DOUBLE,max_concurrent_memory_gb DOUBLE,"
    "max_concurrent_data_rate DOUBLE,tsize_workload STRING,min_pods BIGINT,"
    "max_pods BIGINT,constrained_by STRING NOT NULL,cache_util_pct DOUBLE,"
    "mem_util_pct DOUBLE,cpu_util_pct DOUBLE,spill_util_pct DOUBLE"
)


def _ddl(df) -> str:
    return df._jdf.schema().toDDL()


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("replay") / "history.csv"
    with Path(path).open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(ROWS)
    qh = prepare_query_history(read_query_history_csv(spark, str(path)))
    return run_sizing(qh, DEFAULT_PARAMS)


def test_pipeline_frames_keep_their_types(replay):
    assert _ddl(replay.routed.derived) == DERIVED
    assert _ddl(replay.classified_kept) == CLASSIFIED_KEPT
    assert _ddl(_project24(replay.classified_kept)) == PROJECT24
    assert _ddl(replay.sweep_maxima) == SWEEP_MAXIMA
    assert _ddl(report_aggregate(replay.routed.derived, DEFAULT_PARAMS)) == REPORT_AGGREGATE


def test_report_values_row_keeps_its_types(spark, replay):
    # createDataFrame verifies each value against the declared type, so
    # a DECIMAL reaching a DOUBLE field fails here as well
    row = report_values_df(spark, collect_report_values(replay, DEFAULT_PARAMS))
    assert _ddl(row) == REPORT_VALUES_ROW
