"""Report assembly — SURVEY.md §2.H (H1-H5), values-first.

The reference prints five formatted text sections
(``impala_query_sizing.py:399-458``); parity is checked on *values*
(SURVEY §7.3.4), with the text rendering kept as a faithful-but-fixed
presentation (canonical dim order in ``constrained_by`` — the reference
iterates a set literal at ``:431``, which is nondeterministic).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from ..config import SizingParams
from ..functions import round2_py
from ..schemas import SIZE_ORDER
from .pipeline import SizingResult

DIM_ORDER = ["count", "cache", "mem", "cpu", "spill"]
CONSTRAINT_DIMS = ["cache", "mem", "cpu", "spill"]


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
    """One driver-side pass over the tiny aggregate DataFrames.

    The seven aggregate reads are INDEPENDENT jobs over shared cached
    inputs, so after one sequential action materializes the shared
    caches (``summary.collect()`` forces the derived table and the
    1-row summary) the rest are submitted from a small thread pool
    (optimization guide §2.6: actions are only sequential because the
    driver calls them sequentially — concurrent tiny jobs back-fill
    idle executors instead of paying seven scheduling latencies end to
    end). Results are identical: every job is a read of a deterministic
    frame; the only ordering requirement is cache materialization
    before fan-out, which the summary collect provides."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from ..operators.classify import tsize_expr

    # sequential: materializes the cached derived table + 1-row summary
    # that four of the concurrent jobs below re-read; the workload size
    # class rides along on the same row
    summary = (
        result.summary.select(
            "*",
            tsize_expr(F.col("min_executor_pod_workload")).alias("tsize_workload"),
        )
        .collect()[0]
        .asDict()
    )
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_argmax = pool.submit(result.argmax.collect)
        # the heaviest job: explode + running sums + maxima (also
        # materializes the shared events cache — sole toucher here)
        f_maxima = pool.submit(result.sweep_maxima.collect)
        f_util = pool.submit(result.utilization.collect)
        f_matrix = pool.submit(result.matrix.collect)
        f_pools = pool.submit(
            result.routed.kept.select("pool").distinct().collect
        )
        f_prune = pool.submit(result.routed.pruned.count)
        argmax = f_argmax.result()
        maxima = f_maxima.result()[0].asDict()
        util = f_util.result()[0].asDict()
        matrix = {
            (r.dim, r.tsize): r.n for r in f_matrix.result() if r.tsize is not None
        }
        pools = sorted(r.pool for r in f_pools.result())
        prune_count = f_prune.result()

    counts = {
        size: {dim: int(matrix.get((dim, size), 0)) for dim in DIM_ORDER}
        for size in SIZE_ORDER
    }

    tsize_workload = summary["tsize_workload"]
    constrained_by = [
        d for d in CONSTRAINT_DIMS if counts.get(tsize_workload, {}).get(d, 0) > 0
    ]

    return ReportValues(
        individual={
            "total_queries": summary["total_queries"],
            "total_query_time_sec": round2_py(summary["total_query_time"]),
            "highest_resources_query_id": argmax[0].query_id if argmax else None,
            "max_nodes": summary["max_backends"],
            "max_cores_per_node": summary["max_vcores"],
            "max_data_per_node_gb": summary["max_data"],
            "max_spill_per_node_gb": summary["max_spill"],
            "max_memory_per_node_gb": summary["max_mem"],
            "max_data_rate": summary["max_data_rate"],
            "pools": pools,
            "prune_count": prune_count,
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
            "min_pods": summary["min_executor_pod_workload"],
            "max_pods": int(-(-(maxima["max_pods_workload"] or 0) // 1)),
            "constrained_by": constrained_by,
        },
        query_counts=counts,
        utilization={
            "cache_util_pct": util["cache_util_pct"],
            "mem_util_pct": util["mem_util_pct"],
            "cpu_util_pct": util["cpu_util_pct"],
            "spill_util_pct": util["spill_util_pct"],
        },
    )


def report_values_df(kept, accepted, pruned, params: SizingParams):
    """The five report sections (H1-H5 + G9) as ONE oracle-checkable row
    (``impala_query_sizing.py:399-458``; ``constrained_by`` :428-437).

    :func:`collect_report_values` collects the same numbers driver-side
    to render text; this is the declared-tier twin — every value is a
    column of a single-row DataFrame so the DuckDB oracle can hash it.
    All inputs are one-row aggregate frames (or the ≤30-row size matrix),
    composed with broadcast cross joins — no shuffle grows with data.

    ``constrained_by`` is the canonical-dim-order string (SURVEY §7.0
    declared fix: the reference iterates a set literal at :431, which is
    nondeterministic across Python runs); absent dims are skipped by
    ``concat_ws``, so "no dimension constrained" is the empty string in
    both engines. Rounding uses the deterministic ``round2`` twin.
    """
    from pyspark.sql import functions as F

    from ..functions import ceil_long, round2
    from ..operators.aggregates import size_matrix, summarize, utilization
    from ..operators.classify import tsize_expr
    from ..operators.sweep import explode_events, running_sums, sweep_maxima

    summary = summarize(kept, accepted)
    maxima = sweep_maxima(running_sums(explode_events(kept)))
    util = utilization(summary, params)
    # G4 as a global aggregate (1 row even on empty input, like the
    # oracle's scalar subquery): max pod, earliest seq wins ties.
    argmax = kept.agg(
        F.max_by(
            F.col("query_id"), F.struct(F.col("min_executor_pod"), -F.col("seq"))
        ).alias("highest_resources_query_id")
    )
    prune = pruned.agg(F.count("*").alias("prune_count"))
    tsz = summary.select(
        tsize_expr(F.col("min_executor_pod_workload")).alias("tsize_workload")
    )
    constrained = (
        size_matrix(kept)
        .join(F.broadcast(tsz), F.col("tsize") == F.col("tsize_workload"))
        .agg(
            F.concat_ws(
                " ",
                *[
                    F.max(F.when((F.col("dim") == d) & (F.col("n") > 0), F.lit(d)))
                    for d in CONSTRAINT_DIMS
                ],
            ).alias("constrained_by")
        )
    )
    row = (
        summary.crossJoin(F.broadcast(argmax))
        .crossJoin(F.broadcast(prune))
        .crossJoin(F.broadcast(maxima))
        .crossJoin(F.broadcast(util))
        .crossJoin(F.broadcast(tsz))
        .crossJoin(F.broadcast(constrained))
    )
    z = F.lit(0.0)
    return row.select(
        F.col("total_queries"),
        round2(F.col("total_query_time")).alias("total_query_time_sec"),
        F.col("highest_resources_query_id"),
        F.col("max_backends").alias("max_nodes"),
        F.col("max_vcores").alias("max_cores_per_node"),
        F.col("max_data").alias("max_data_per_node_gb"),
        F.col("max_spill").alias("max_spill_per_node_gb"),
        F.col("max_mem").alias("max_memory_per_node_gb"),
        F.col("max_data_rate"),
        F.col("n_pools"),
        F.col("prune_count"),
        F.col("max_concurrent_queries"),
        F.col("max_pods_workload_ts_ms").alias("max_concurrent_ts_ms"),
        F.col("max_concurrent_cores"),
        round2(F.coalesce(F.col("max_concurrent_cache"), z)).alias(
            "max_concurrent_data_gb"
        ),
        round2(F.coalesce(F.col("max_concurrent_spill"), z)).alias(
            "max_concurrent_spill_gb"
        ),
        round2(F.coalesce(F.col("max_concurrent_memory"), z)).alias(
            "max_concurrent_memory_gb"
        ),
        F.col("max_concurrent_data_rate"),
        F.col("tsize_workload"),
        F.col("min_executor_pod_workload").alias("min_pods"),
        ceil_long(F.coalesce(F.col("max_pods_workload"), z)).alias("max_pods"),
        F.col("constrained_by"),
        F.col("cache_util_pct"),
        F.col("mem_util_pct"),
        F.col("cpu_util_pct"),
        F.col("spill_util_pct"),
    )


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
