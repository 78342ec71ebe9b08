"""EP2 pipeline semantics against a pure-Python mini-oracle that reimplements
the reference's row loop (independent of both Spark and DuckDB)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS, SizingParams
from impala_base_to_cdw_sizing_spark.operators.aggregates import (
    argmax_query,
    report_aggregate,
    size_matrix,
    summarize,
)
from impala_base_to_cdw_sizing_spark.plans.pipeline import run_sizing

QH_SCHEMA = (
    "seq long, query_id string, pool string, start_ms long, end_ms long, "
    "duration_millis long, reqd_cache_gb double, reqd_agg_mem double, "
    "memory_spilled_gb double, cpu_time_sec double, query_type string, "
    "admission_wait long, num_backends long, has_mem_metric boolean"
)

# hand-built rows exercising: all buckets, prune route, skip route, pool
# filter, argmax tie (strict > ⇒ earliest wins)
_BASE = [
    # seq, id, pool, start, dur_ms, cache, mem, spill, cpu_s, type, wait, nb, has_mem
    (0, "q0", "etl", 1_000, 10_000, 100.0, 100.0, 0.0, 20.0, "QUERY", 0, 2, True),
    (1, "q1", "etl", 2_000, 20_000, 2000.0, 900.0, 500.0, 120.0, "QUERY", 100, 4, True),
    (2, "q2", "bi", 3_000, 30_000, 9000.0, 4000.0, 2500.0, 480.0, "QUERY", 0, 8, True),
    (3, "q3", "bi", 4_000, 40_000, 25000.0, 8000.0, 0.0, 2000.0, "QUERY", 250, 10, True),
    (4, "q4", "adhoc", 5_000, 5_000, 300000.0, 50000.0, 0.0, 10.0, "QUERY", 0, 3, True),  # pruned
    (5, "q5", "adhoc", 6_000, 6_000, 50.0, 10.0, 0.0, 5.0, "DDL", 0, 1, True),  # type-filtered
    (6, "q6", "etl", 7_000, 7_000, 50.0, 10.0, 0.0, 5.0, "QUERY", 0, 1, False),  # skipped
    (7, "q7", "etl", 8_000, 40_000, 25000.0, 8000.0, 0.0, 2000.0, "QUERY", 0, 10, True),  # ties q3 pod
]
# end_ms = start_ms + duration_millis, spliced into schema position 4
ROWS = [r[:4] + (r[3] + r[4],) + r[4:] for r in _BASE]


def _mini_oracle(params: SizingParams):
    """Straight-line reimplementation of impala_query_sizing.py:211-305."""
    kept, pruned, skipped = [], [], []
    for r in _BASE:
        (seq, qid, pool, start, dur, cache, mem, spill, cpu, qtype, wait, nb, has) = r
        if qtype != "QUERY":
            continue
        if not has:
            skipped.append(qid)
            continue
        dur_s = dur / 1000.0
        min_par = math.ceil(cpu / dur_s)
        pod_cache = cache / params.cache_gb_per_node
        pod_mem = ((mem * params.mem_adjustment_pct) / 100) / params.query_mem_per_node
        pod_cpu = ((params.cpu_adjustment_pct * min_par) / 100) / params.parallel_factor
        pod_spill = spill / params.scratch_gb_per_node
        pod = max(pod_cache, pod_mem, pod_cpu, pod_spill)
        pod_r = math.ceil(pod)
        row = dict(seq=seq, qid=qid, pod=pod_r, dur=dur, wait=wait, mem=mem, dur_s=dur_s)
        (pruned if pod_r > params.pod_limit else kept).append(row)
    return kept, pruned, skipped


@pytest.fixture(scope="module")
def result(spark):
    qh = spark.createDataFrame(ROWS, QH_SCHEMA)
    return run_sizing(qh, DEFAULT_PARAMS)


@pytest.fixture(scope="module")
def report(result):
    """The single-row report aggregate the report values come from."""
    return report_aggregate(result.routed.derived, DEFAULT_PARAMS)


def test_routing_counts(result):
    kept, pruned, skipped = _mini_oracle(DEFAULT_PARAMS)
    assert result.routed.kept.count() == len(kept)
    assert result.routed.pruned.count() == len(pruned)
    assert [r.query_id for r in result.routed.skipped.collect()] == skipped


def test_total_queries_counts_pruned_rows(report):
    # G1: increment at :215 precedes prune at :262
    kept, pruned, _ = _mini_oracle(DEFAULT_PARAMS)
    summary = summarize(report).collect()[0]
    assert summary.total_queries == len(kept) + len(pruned)


def test_argmax_earliest_tie_wins(report):
    # q3 (seq 3) and q7 (seq 7) tie on pod demand; strict > keeps q3
    kept, _, _ = _mini_oracle(DEFAULT_PARAMS)
    best = max(kept, key=lambda r: (r["pod"], -r["seq"]))
    assert argmax_query(report).collect()[0].query_id == best["qid"] == "q3"


def test_utilization_asymmetry(report):
    # total_query_time subtracts admission wait; util integrals use full
    # duration (impala_query_sizing.py:300-305)
    kept, _, _ = _mini_oracle(DEFAULT_PARAMS)
    summary = summarize(report).collect()[0]
    want_time = sum((r["dur"] - r["wait"]) / 1000.0 for r in kept)
    want_util_mem = sum(r["mem"] * r["dur_s"] for r in kept)
    assert summary.total_query_time == pytest.approx(want_time, rel=1e-9)
    assert summary.util_mem == pytest.approx(want_util_mem, rel=1e-9)


def test_pool_filter(spark):
    qh = spark.createDataFrame(ROWS, QH_SCHEMA)
    res = run_sizing(qh, SizingParams(pool="etl"))
    pools = {r.pool for r in res.routed.kept.select("pool").distinct().collect()}
    assert pools == {"etl"}


def test_size_matrix_row_sums(result, report):
    # every kept row contributes exactly once per dimension
    kept_n = result.routed.kept.count()
    per_dim = {
        r.dim: r.total
        for r in size_matrix(report).groupBy("dim").agg(F.sum("n").alias("total")).collect()
    }
    assert per_dim == {d: kept_n for d in ("count", "cache", "mem", "cpu", "spill")}


def test_report_values_round_half_up(spark):
    """Printed report values use the oracle row's rounding rule: a total
    query time of exactly 0.125 s is 0.13 in both the collected
    values and the oracle-checked row (Python's ``round`` gives 0.12)."""
    from impala_base_to_cdw_sizing_spark.plans.reports import (
        collect_report_values,
        report_values_df,
    )

    row = (0, "q0", "etl", 1_000, 1_125, 125, 1.0, 1.0, 0.0, 0.1, "QUERY", 0, 1, True)
    res = run_sizing(spark.createDataFrame([row], QH_SCHEMA), DEFAULT_PARAMS)
    values = collect_report_values(res, DEFAULT_PARAMS)
    oracle_row = report_values_df(spark, values).collect()[0]
    assert values.individual["total_query_time_sec"] == 0.13
    assert oracle_row.total_query_time_sec == 0.13


@pytest.mark.parametrize(
    "params",
    [SizingParams(pool="nomatch"), SizingParams(pod_limit=0)],
    ids=["pool_matches_nothing", "every_query_over_pod_limit"],
)
def test_report_values_with_no_kept_query(spark, params):
    """No kept query: the report holds what the oracle row holds (SQL
    NULLs and the coalesced zeros) and still renders."""
    from impala_base_to_cdw_sizing_spark.plans.reports import (
        collect_report_values,
        format_reports,
    )

    res = run_sizing(spark.createDataFrame(ROWS, QH_SCHEMA), params)
    values = collect_report_values(res, params)
    assert values.individual["total_query_time_sec"] is None
    assert values.individual["highest_resources_query_id"] is None
    assert values.individual["pools"] == []
    assert values.cluster_sizing == {
        "tsize_workload": None,
        "min_pods": None,
        "max_pods": 0,
        "constrained_by": [],
    }
    assert set(values.utilization.values()) == {None}
    for dim in ("data", "spill", "memory"):
        assert values.concurrent[f"max_concurrent_{dim}_gb"] == 0.0
    text = format_reports(values)
    assert " Total Query Time: None sec" in text
    assert "None\t\tNone\t\t0\t\t" in text


def test_report_jobs_inherit_caller_job_group(spark):
    """Every report job runs in the caller's job group, so none escapes a
    job-group count or cancel."""
    from impala_base_to_cdw_sizing_spark.plans.reports import collect_report_values

    sc = spark.sparkContext
    res = run_sizing(spark.createDataFrame(ROWS, QH_SCHEMA), DEFAULT_PARAMS)
    ungrouped_before = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("report-values", "report values")
    try:
        collect_report_values(res, DEFAULT_PARAMS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # a difference, not equality: the tracker may evict old jobs meanwhile
    assert set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped_before == set()
    assert sc.statusTracker().getJobIdsForGroup("report-values")
