"""Report assembly — SURVEY.md §2.H (H1-H5), values-first.

The reference prints five formatted text sections
(``impala_query_sizing.py:399-458``). Their values are computed in one
place, :func:`collect_report_values`, from two concurrent reads: the
single-row report aggregate (G1-G8) and the sweep maxima (F4). The CLI
and EP1 render the collected struct with :func:`format_reports`; the
declared ``sizing_report_values`` query turns the same struct into one
row with :func:`report_values_df`, so the DuckDB oracle checks exactly
the values the CLI prints (SURVEY §7.3.4). The text rendering is a
faithful-but-fixed presentation: ``constrained_by`` is in canonical dim
order, where the reference iterates a set literal at ``:431``, which is
nondeterministic.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from ..config import SizingParams
from ..functions import round2_py
from ..operators.aggregates import MATRIX_DIMS, matrix_cell, report_aggregate
from ..schemas import SIZE_ORDER
from .pipeline import SizingResult

DIM_ORDER = list(MATRIX_DIMS)
CONSTRAINT_DIMS = ["cache", "mem", "cpu", "spill"]

# the declared ``sizing_report_values`` row: one column per printed value
REPORT_VALUES_SCHEMA = (
    "total_queries BIGINT NOT NULL, total_query_time_sec DOUBLE, "
    "highest_resources_query_id STRING, max_nodes BIGINT, "
    "max_cores_per_node DOUBLE, max_data_per_node_gb DOUBLE, "
    "max_spill_per_node_gb DOUBLE, max_memory_per_node_gb DOUBLE, "
    "max_data_rate DOUBLE, n_pools BIGINT NOT NULL, "
    "prune_count BIGINT NOT NULL, max_concurrent_queries BIGINT, "
    "max_concurrent_ts_ms BIGINT, max_concurrent_cores DOUBLE, "
    "max_concurrent_data_gb DOUBLE, max_concurrent_spill_gb DOUBLE, "
    "max_concurrent_memory_gb DOUBLE, max_concurrent_data_rate DOUBLE, "
    "tsize_workload STRING, min_pods BIGINT, max_pods BIGINT, "
    "constrained_by STRING NOT NULL, cache_util_pct DOUBLE, "
    "mem_util_pct DOUBLE, cpu_util_pct DOUBLE, spill_util_pct DOUBLE"
)


@dataclass
class ReportValues:
    individual: dict[str, Any] = field(default_factory=dict)   # H1
    concurrent: dict[str, Any] = field(default_factory=dict)   # H2
    cluster_sizing: dict[str, Any] = field(default_factory=dict)  # H3
    query_counts: dict[str, dict[str, int]] = field(default_factory=dict)  # H4
    utilization: dict[str, float] = field(default_factory=dict)  # H5


def collect_report_values(
    result: SizingResult, params: SizingParams
) -> ReportValues:
    """Every printed report value, collected to Python in one pass.

    Two concurrent reads, one row each: ``aggregates.report_aggregate``
    over the cached derived table (G1-G8, with the workload size class
    and the utilization on the same row) and the sweep maxima over the
    cached events (F4). ``run_sizing`` materialized both caches, so the
    reads are independent jobs; they are submitted from a two-thread
    pool (optimization guide §2.6: concurrent tiny jobs back-fill idle
    executors instead of paying their scheduling latencies end to end).
    Each submission inherits the caller's job group and other local
    properties, so the caller can count or cancel its jobs. Every job
    reads a deterministic frame, so completion order cannot change a
    value."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    report = report_aggregate(result.routed.derived, params)
    # captures the caller's local properties (job group included) now
    inherit = inheritable_thread_target(report.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_report = pool.submit(inherit(report.collect))
        f_maxima = pool.submit(inherit(result.sweep_maxima.collect))
        agg = f_report.result()[0].asDict()
        maxima = f_maxima.result()[0].asDict()

    counts = {
        size: {dim: agg[matrix_cell(dim, size)] for dim in DIM_ORDER}
        for size in SIZE_ORDER
    }

    tsize_workload = agg["tsize_workload"]
    constrained_by = [
        d for d in CONSTRAINT_DIMS if counts.get(tsize_workload, {}).get(d, 0) > 0
    ]

    return ReportValues(
        individual={
            "total_queries": agg["total_queries"],
            "total_query_time_sec": round2_py(agg["total_query_time"]),
            "highest_resources_query_id": agg["highest_resources_query_id"],
            "max_nodes": agg["max_backends"],
            "max_cores_per_node": agg["max_vcores"],
            "max_data_per_node_gb": agg["max_data"],
            "max_spill_per_node_gb": agg["max_spill"],
            "max_memory_per_node_gb": agg["max_mem"],
            "max_data_rate": agg["max_data_rate"],
            "pools": agg["pools"],
            "prune_count": agg["prune_count"],
            "pod_limit": params.pod_limit,
        },
        concurrent={
            "max_concurrent_queries": maxima["max_concurrent_queries"],
            "max_concurrent_resources_ts_ms": maxima["max_pods_workload_ts_ms"],
            "max_concurrent_cores": maxima["max_concurrent_cores"],
            "max_concurrent_data_gb": round2_py(maxima["max_concurrent_cache"] or 0),
            "max_concurrent_spill_gb": round2_py(maxima["max_concurrent_spill"] or 0),
            "max_concurrent_memory_gb": round2_py(maxima["max_concurrent_memory"] or 0),
            "max_concurrent_data_rate": maxima["max_concurrent_data_rate"],
        },
        cluster_sizing={
            "tsize_workload": tsize_workload,
            "min_pods": agg["min_executor_pod_workload"],
            "max_pods": int(-(-(maxima["max_pods_workload"] or 0) // 1)),
            "constrained_by": constrained_by,
        },
        query_counts=counts,
        utilization={
            name: agg[name]
            for name in ("cache_util_pct", "mem_util_pct", "cpu_util_pct", "spill_util_pct")
        },
    )


def report_values_df(spark, values: ReportValues):
    """The five report sections (H1-H5 + G9) as ONE oracle-checkable row
    (``impala_query_sizing.py:399-458``; ``constrained_by`` :428-437).

    The row is built from the collected ``values``, so the declared
    ``sizing_report_values`` query checks exactly what the CLI prints.
    ``constrained_by`` is the canonical-dim-order string (SURVEY §7.0
    declared fix: the reference iterates a set literal at :431, which is
    nondeterministic across Python runs); "no dimension constrained" is
    the empty string, as the oracle's ``concat_ws`` gives.
    """
    row = {
        **values.individual, **values.concurrent, **values.cluster_sizing,
        **values.utilization,
    }
    row.update(
        n_pools=len(row["pools"]),
        max_concurrent_ts_ms=row["max_concurrent_resources_ts_ms"],
        constrained_by=" ".join(row["constrained_by"]),
    )
    # fields are taken by schema name; the other keys are not columns
    return spark.createDataFrame([row], REPORT_VALUES_SCHEMA)


def format_reports(v: ReportValues) -> str:
    """Render the five sections (presentation only; values are the API)."""
    ind, con, cs, util = v.individual, v.concurrent, v.cluster_sizing, v.utilization
    lines = [
        "",
        "Individual Query Analysis",
        f" Total Queries: {ind['total_queries']}",
        f" Total Query Time: {ind['total_query_time_sec']} sec",
        f" Highest Resources Query ID: {ind['highest_resources_query_id']}",
        f" Max Nodes: {ind['max_nodes']}",
        f" Max Cores Per Node: {ind['max_cores_per_node']}",
        f" Max Data Per Node: {ind['max_data_per_node_gb']} GB",
        f" Max Spill Per Node: {ind['max_spill_per_node_gb']} GB",
        f" Max Memory Per Node: {ind['max_memory_per_node_gb']} GB/s",
        f" Max Data Rate: {ind['max_data_rate']} GB",
        " Pools:",
        *[f"   {p}" for p in ind["pools"]],
    ]
    if ind["prune_count"] > 0:
        lines.append(
            f" Queries Over Pod Limit ( {ind['pod_limit']} ): {ind['prune_count']}"
        )
    lines += [
        "",
        "Concurrent Query Analysis",
        f" Max Concurrent Queries: {con['max_concurrent_queries']}",
        f" Max Concurrent Resources Time (epoch ms): {con['max_concurrent_resources_ts_ms']}",
        f" Max Concurrent Cores Per Node: {con['max_concurrent_cores']}",
        f" Max Concurrent Data Per Node: {con['max_concurrent_data_gb']} GB",
        f" Max Concurrent Spill Per Node: {con['max_concurrent_spill_gb']} GB",
        f" Max Concurrent Memory Per Node: {con['max_concurrent_memory_gb']} GB",
        f" Max Concurrent Data Rate: {con['max_concurrent_data_rate']} GB/s",
        "",
        "\t\t\t    Cluster Sizing",
        "Size\t\tMin Pods\tMax Pods\tConstrained By",
        f"{cs['tsize_workload']}\t\t{cs['min_pods']}\t\t{cs['max_pods']}\t\t"
        + " ".join(cs["constrained_by"]),
        "",
        "\t\t\t    Query Counts",
        "                     Cache       Mem         CPU         Spill",
        "Size     Count       Constrained Constrained Constrained Constrained",
    ]
    for size in SIZE_ORDER:
        row = size.rjust(8)
        for dim in DIM_ORDER:
            row += " " + str(v.query_counts[size][dim]).rjust(11)
        lines.append(row)
    lines += [
        "",
        "\t\t\t    Average Cluster Utilization",
        "Cache    Memory    CPU       Spill",
        f"{str(util['cache_util_pct']).rjust(6)} %  {str(util['mem_util_pct']).rjust(6)} % "
        f" {str(util['cpu_util_pct']).rjust(6)} %  {str(util['spill_util_pct']).rjust(6)} %",
    ]
    return "\n".join(lines)
