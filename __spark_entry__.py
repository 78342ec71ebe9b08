"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is a Spark DataFrame program from the engine
(``impala_base_to_cdw_sizing_spark``); each ``oracle_sql()`` entry is the
equivalent DuckDB SQL over the same parquet views. The sizing-pipeline
queries derive a deterministic ``query_history`` fact table from the
``events`` view (see ``sources/synthetic.py``) so both sides compute from
identical inputs with identical arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
from impala_base_to_cdw_sizing_spark.operators import queries_ext  # noqa: F401 (registered below)
from impala_base_to_cdw_sizing_spark.operators.aggregates import (
    argmax_query,
    report_aggregate,
    size_matrix,
    size_matrix_sql,
    summarize,
    summarize_sql,
    utilization,
    utilization_sql,
)
from impala_base_to_cdw_sizing_spark.operators.classify import classify, classify_cte
from impala_base_to_cdw_sizing_spark.operators.derive import derive, derived_cte
from impala_base_to_cdw_sizing_spark.operators.route import (
    accepted_filter,
    prune_split,
    skip_split,
)
from impala_base_to_cdw_sizing_spark.operators.sweep import (
    EXPLODE_EVENTS_CTE,
    RUNNING_SUMS_SQL,
    SWEEP_MAXIMA_SQL,
    explode_events,
    running_sums,
    sweep_maxima,
)
from impala_base_to_cdw_sizing_spark.sources.synthetic import (
    oracle_with,
    query_history_from_events,
)

P = DEFAULT_PARAMS

# Shared oracle CTE chain for the sizing pipeline.
ACCEPTED_CTE = (
    "accepted AS (SELECT * FROM query_history "
    "WHERE query_type = 'QUERY' AND has_mem_metric)"
)
DERIVED_CTE = derived_cte(P, source="accepted")
CLASSIFIED_CTE = classify_cte(source="derived")
KEPT_CTE = f"kept AS (SELECT * FROM classified WHERE min_executor_pod <= {P.pod_limit})"

SIZING_OUTPUT_COLS = [
    "query_id", "pool", "start_ms", "end_ms", "duration_millis",
    "reqd_cache_gb", "min_exec_pod_cache", "tsize_cache",
    "reqd_agg_mem", "min_exec_pod_mem", "tsize_mem",
    "cpu_time_sec", "query_sla_sec",
    "min_parallelism", "min_exec_pod_cpu", "tsize_cpu",
    "memory_spilled_gb", "min_exec_pod_spill", "tsize_spill",
    "min_executor_pod", "recommended_tsize",
    "query_type", "admission_wait", "num_backends",
]


def _qh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return query_history_from_events(spark, sf_dir)


def _accepted(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _ = skip_split(accepted_filter(_qh(spark, sf_dir), P))
    return df


def _derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive(_accepted(spark, sf_dir), P)


def _classified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classify(_derived(spark, sf_dir))


def _report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-row report aggregate every G-value query selects from."""
    return report_aggregate(_derived(spark, sf_dir), P)


def _kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept, _ = prune_split(_classified(spark, sf_dir), P)
    return kept


# --- sizing-pipeline queries --------------------------------------------------


def q_sizing_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C13 + E1: the 24-column derived/classified fact table."""
    return _classified(spark, sf_dir).select(*SIZING_OUTPUT_COLS)


def q_sizing_route_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: rows routed to the pruned sink (pod demand over the limit)."""
    _, pruned = prune_split(_classified(spark, sf_dir), P)
    return pruned.select("query_id", "pool", "min_executor_pod", "recommended_tsize")


def q_sizing_skipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: queries missing the memory metric → skipped sink shape
    (id|duration|start|end, ``impala_query_sizing.py:198``)."""
    _, skipped = skip_split(accepted_filter(_qh(spark, sf_dir), P))
    return skipped.select("query_id", "duration_millis", "start_ms", "end_ms")


def q_sizing_size_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: size × dimension counts (long form) — the flagship aggregate."""
    return size_matrix(_report(spark, sf_dir))


def q_sizing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1+G3+G6+G8: workload summary row."""
    return summarize(_report(spark, sf_dir))


def q_sizing_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: highest-demand query id, earliest tie wins."""
    return argmax_query(_report(spark, sf_dir))


def q_sizing_sweep_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F3: per-event running concurrency/resource sums.

    The 100 TB plan (parallel per-bucket windows + broadcast carry-in).
    Integer micro-unit arithmetic makes it bit-identical to the
    single-window oracle."""
    return running_sums(explode_events(_kept(spark, sf_dir)))


def q_sizing_sweep_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: sweep maxima (max concurrency, max pods + its timestamp)."""
    return sweep_maxima(explode_events(_kept(spark, sf_dir)))


def q_sizing_summary_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 through the oracle gate: the summary with the pool filter set
    (reference pool equality filter, impala_query_sizing.py:211-216)."""
    from impala_base_to_cdw_sizing_spark.config import SizingParams

    params = SizingParams(pool="click")
    qh = _qh(spark, sf_dir)
    accepted, _ = skip_split(accepted_filter(qh, params))
    return summarize(report_aggregate(derive(accepted, params), params))


def q_sizing_derive_rangejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 as the generic broadcast non-equi range join (the reference's
    only "join" analog, ``impala_query_sizing.py:71-84``): all five
    t-shirt labels come from ``classify_range_join`` against the
    ``size_buckets`` dimension instead of the CASE text. Same oracle as
    ``sizing_derive`` — the two classifier formulations must agree on
    every row. Catalyst broadcasts the 5-row bucket dim, so each join is
    one comparison chain per row (scale-safe)."""
    from impala_base_to_cdw_sizing_spark.operators.classify import (
        classify_range_join,
    )

    df = derive(_accepted(spark, sf_dir), P)
    for col, out in [
        ("min_exec_pod_cache", "tsize_cache"),
        ("min_exec_pod_mem", "tsize_mem"),
        ("min_exec_pod_cpu", "tsize_cpu"),
        ("min_exec_pod_spill", "tsize_spill"),
        ("min_executor_pod_raw", "recommended_tsize"),
    ]:
        df = classify_range_join(df, col, out)
    return df.select(*SIZING_OUTPUT_COLS)


def q_sizing_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: average cluster-utilization percentages."""
    return utilization(_report(spark, sf_dir))


def q_sizing_report_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 + H1-H5: every value the five report sections print, as one
    oracle-checked row built from the values the CLI renders."""
    from impala_base_to_cdw_sizing_spark.plans.pipeline import run_sizing
    from impala_base_to_cdw_sizing_spark.plans.reports import (
        collect_report_values,
        report_values_df,
    )

    res = run_sizing(_qh(spark, sf_dir), P)
    row = report_values_df(spark, collect_report_values(res, P))
    # the row holds plain values: the pipeline caches can go
    res.routed.derived.unpersist()
    return row


# --- contract -----------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full sizing pipeline at sf0.001 → size × dim count matrix."""
    return q_sizing_size_matrix(spark, "/root/testdata/sf0.001")


# The 12 sizing-pipeline rows are ALWAYS the first entries of queries()
# (the reference-parity core the driver must see every round).
_SIZING_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sizing_derive": q_sizing_derive,
    "sizing_derive_rangejoin": q_sizing_derive_rangejoin,
    "sizing_route_pruned": q_sizing_route_pruned,
    "sizing_skipped": q_sizing_skipped,
    "sizing_size_matrix": q_sizing_size_matrix,
    "sizing_summary": q_sizing_summary,
    "sizing_summary_pool": q_sizing_summary_pool,
    "sizing_argmax": q_sizing_argmax,
    "sizing_sweep_running": q_sizing_sweep_running,
    "sizing_sweep_max": q_sizing_sweep_max,
    "sizing_utilization": q_sizing_utilization,
    "sizing_report_values": q_sizing_report_values,
}

# Deterministic declared-tier rotation (r9 verdict #1). The driver's
# CORRECTNESS sample covers the first 50 rows of queries(); with >50
# declared names, a fixed order would leave the tail driver-unverified
# forever. Rule (recorded in README §Driver contract): the sizing rows
# stay fixed; the remaining declared names rotate by
# shift = (round - 10) * (50 - len(sizing)) mod len(rest), where round =
# 1 + the highest N parsed from CORRECTNESS_rN.json files beside this
# file (robust to gaps or stray files — r10 ADVICE). Consecutive windows
# tile EXACTLY: as of r13 the contract is THREE-round rotation (r12
# verdict task 3) — 3*38 = 114 rotating names (126 declared - 12 fixed
# sizing), so any three consecutive rounds' driver samples partition the
# rotating tier with ZERO slack, and every declared name is
# driver-verified at least once per three rounds. 114 is the tiling
# capacity: promoting a 115th rotating name breaks the guarantee
# (tests/test_rotation.py's coverage assert + its hypothesis tiling
# property will fail), so further promotion requires a 4-round contract. The 16
# names the r9 sample rotated out lead the canonical order, so the
# round-10 window started with them. Contract history: 2-round/76
# names r11-r12; widened r13 after verifying all 38 promotions at
# sf0.01 (tools/compare_oracle.py checks every name regardless of
# rotation slot).
_ROTATION_HEAD: tuple[str, ...] = (
    "rel_tpch_q3_topk", "rel_tpch_q5_star", "rel_tpch_q7_volume",
    "rel_tpch_q4_exists", "rel_tpch_q6_pushdown", "rel_tpch_q13_histogram",
    "rel_semi_anti", "rel_topk_per_group", "rel_setops", "rel_sessionize",
    "rel_correlated_subquery", "rel_exact_percentiles", "rel_grouping_sets",
    "rel_window_suite", "rel_scalar_funcs", "rel_approx_distinct",
)

_DRIVER_SAMPLE_ROWS = 50


def _round_number() -> int:
    """1 + the highest round number among CORRECTNESS_rN.json artifacts.

    A max over parsed round numbers (not a count of files) keeps the
    rotation stable if a round file is ever deleted, skipped, or a stray
    non-numeric name matches the glob (r10 ADVICE). The driver writes
    CORRECTNESS_r{N}.json only AFTER sampling queries(), so the file for
    the in-flight round never shifts its own sample.
    """
    import re
    from pathlib import Path

    here = Path(__file__).resolve().parent
    rounds = []
    for p in here.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            rounds.append(int(m.group(1)))
    return (max(rounds) if rounds else 0) + 1


def _rotated_names(ext_names: list[str]) -> list[str]:
    head = [n for n in _ROTATION_HEAD if n in ext_names]
    canon = head + [n for n in ext_names if n not in set(head)]
    if not canon:
        return canon
    window = _DRIVER_SAMPLE_ROWS - len(_SIZING_QUERIES)
    shift = ((_round_number() - 10) * window) % len(canon)
    return canon[shift:] + canon[:shift]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = dict(_SIZING_QUERIES)
    ext = queries_ext.queries()
    for n in _rotated_names(list(ext)):
        base[n] = ext[n]
    return base


def canonical_query_order() -> list[str]:
    """The declared names in rotation-INDEPENDENT order (the shift-0
    layout: 12 sizing rows, then head, then registration order).

    ``bench.py`` iterates passes in this order, not ``queries()`` order:
    the driver-sample rotation reorders ``queries()`` every round, which
    changes plan-keyed cache adjacency between queries that share a
    pipeline stage — r11's `graph_ppr` 3.89→10.58 s "regression" was
    exactly this (the rotation moved it BEFORE the MinHash family, so it
    paid the shared signature build that `dedup_minhash` had warmed in
    r10's order; measured cold 13.1 s vs warm 4.9 s at sf0.1, r12). A
    fixed bench order makes per-query timings carry identical adjacency
    every round, so round-over-round deltas mean plan changes, not
    rotation weather.

    Shared-stage billing: the MinHash signature pipeline is built once
    per pass (plan-keyed ``sigs`` cache) and the FIRST toucher pays it —
    in raw registration order that was ``graph_ppr``, which then benched
    build+graph (7.4 s) while ``dedup_minhash`` benched 0.6 s warm. The
    owning query is hoisted before every consumer, so the build cost is
    billed to ``dedup_minhash`` and the graph/CC rows measure their own
    work. The converged BPE trainer is shared the same way since r14
    (memo owner ``"bpe"``): ``text_bpe_merges_converged`` precedes
    ``text_bpe_encode_converged`` in PROMOTED order, so the merge-table
    query pays the 16-round training and the encode row measures only
    its own corpus pass."""
    ext = list(queries_ext.queries())
    head = [n for n in _ROTATION_HEAD if n in ext]
    names = (
        list(_SIZING_QUERIES) + head + [n for n in ext if n not in set(head)]
    )
    consumers = {
        "graph_ppr", "graph_pagerank_conserving",
        "graph_triangles", "dedup_hybrid", "dedup_components",
        # r13 promotion: the incremental (new-vs-corpus) dedup reads the
        # same plan-keyed sigs cache via _band_frame(_MH_FULL)
        "dedup_incremental",
    }
    if "dedup_minhash" in names:
        first = min(
            (names.index(n) for n in consumers if n in names),
            default=len(names),
        )
        if first < names.index("dedup_minhash"):
            names.remove("dedup_minhash")
            names.insert(first, "dedup_minhash")
    return names


_DERIVE_ORACLE = oracle_with(
    ACCEPTED_CTE, DERIVED_CTE, CLASSIFIED_CTE,
    body="SELECT " + ", ".join(SIZING_OUTPUT_COLS) + " FROM classified",
)


def _report_values_oracle() -> str:
    from impala_base_to_cdw_sizing_spark.functions import (
        ceil_long_sql,
        round2_sql,
    )
    from impala_base_to_cdw_sizing_spark.operators.aggregates import (
        utilization_sql,
    )
    from impala_base_to_cdw_sizing_spark.operators.classify import (
        tsize_case_sql,
    )

    return oracle_with(
        ACCEPTED_CTE, DERIVED_CTE, CLASSIFIED_CTE, KEPT_CTE,
        EXPLODE_EVENTS_CTE,
        f"running AS ({RUNNING_SUMS_SQL})",
        f"summary AS ({summarize_sql(P)})",
        f"maxima AS ({SWEEP_MAXIMA_SQL})",
        f"util AS ({utilization_sql(P)})",
        "tsz AS (SELECT "
        f"{tsize_case_sql('min_executor_pod_workload')} AS tsize_workload "
        "FROM summary)",
        "mlong AS (SELECT 'cache' AS dim, tsize_cache AS tsize FROM kept"
        " UNION ALL SELECT 'mem', tsize_mem FROM kept"
        " UNION ALL SELECT 'cpu', tsize_cpu FROM kept"
        " UNION ALL SELECT 'spill', tsize_spill FROM kept)",
        "matrix AS (SELECT dim, tsize, COUNT(*) AS n FROM mlong"
        " GROUP BY dim, tsize)",
        "constrained AS (SELECT concat_ws(' ', "
        "MAX(CASE WHEN m.dim = 'cache' AND m.n > 0 THEN 'cache' END), "
        "MAX(CASE WHEN m.dim = 'mem' AND m.n > 0 THEN 'mem' END), "
        "MAX(CASE WHEN m.dim = 'cpu' AND m.n > 0 THEN 'cpu' END), "
        "MAX(CASE WHEN m.dim = 'spill' AND m.n > 0 THEN 'spill' END)"
        ") AS constrained_by "
        "FROM matrix m JOIN tsz t ON m.tsize = t.tsize_workload)",
        body=f"""
SELECT
  s.total_queries,
  {round2_sql('s.total_query_time')} AS total_query_time_sec,
  (SELECT query_id FROM kept ORDER BY min_executor_pod DESC, seq ASC LIMIT 1)
    AS highest_resources_query_id,
  s.max_backends AS max_nodes,
  s.max_vcores AS max_cores_per_node,
  s.max_data AS max_data_per_node_gb,
  s.max_spill AS max_spill_per_node_gb,
  s.max_mem AS max_memory_per_node_gb,
  s.max_data_rate,
  s.n_pools,
  (SELECT COUNT(*) FROM classified
   WHERE min_executor_pod > {P.pod_limit}) AS prune_count,
  x.max_concurrent_queries,
  x.max_pods_workload_ts_ms AS max_concurrent_ts_ms,
  x.max_concurrent_cores,
  {round2_sql('coalesce(x.max_concurrent_cache, 0)')} AS max_concurrent_data_gb,
  {round2_sql('coalesce(x.max_concurrent_spill, 0)')} AS max_concurrent_spill_gb,
  {round2_sql('coalesce(x.max_concurrent_memory, 0)')} AS max_concurrent_memory_gb,
  x.max_concurrent_data_rate,
  t.tsize_workload,
  s.min_executor_pod_workload AS min_pods,
  {ceil_long_sql('coalesce(x.max_pods_workload, 0)')} AS max_pods,
  c.constrained_by,
  u.cache_util_pct, u.mem_util_pct, u.cpu_util_pct, u.spill_util_pct
FROM summary s
CROSS JOIN maxima x CROSS JOIN util u CROSS JOIN tsz t CROSS JOIN constrained c
""",
    )


def oracle_sql() -> dict[str, str]:
    base = {
        "sizing_derive": _DERIVE_ORACLE,
        # the range-join classifier must land on the identical table
        "sizing_derive_rangejoin": _DERIVE_ORACLE,
        "sizing_route_pruned": oracle_with(
            ACCEPTED_CTE, DERIVED_CTE, CLASSIFIED_CTE,
            body=(
                "SELECT query_id, pool, min_executor_pod, recommended_tsize "
                f"FROM classified WHERE min_executor_pod > {P.pod_limit}"
            ),
        ),
        "sizing_skipped": oracle_with(
            body=(
                "SELECT query_id, duration_millis, start_ms, end_ms "
                "FROM query_history "
                "WHERE query_type = 'QUERY' AND NOT has_mem_metric"
            ),
        ),
        "sizing_size_matrix": oracle_with(
            ACCEPTED_CTE, DERIVED_CTE, CLASSIFIED_CTE,
            body=size_matrix_sql(P),
        ),
        "sizing_summary": oracle_with(
            ACCEPTED_CTE,
            # G1 counts the pre-prune accepted set: summarize_sql embeds it
            DERIVED_CTE,
            body=summarize_sql(P),
        ),
        "sizing_summary_pool": oracle_with(
            "accepted AS (SELECT * FROM query_history "
            "WHERE query_type = 'QUERY' AND has_mem_metric "
            "AND pool = 'click')",
            DERIVED_CTE,
            body=summarize_sql(P),
        ),
        "sizing_argmax": oracle_with(
            ACCEPTED_CTE, DERIVED_CTE, CLASSIFIED_CTE, KEPT_CTE,
            body=(
                "SELECT query_id, min_executor_pod FROM kept "
                "ORDER BY min_executor_pod DESC, seq ASC LIMIT 1"
            ),
        ),
        "sizing_sweep_running": oracle_with(
            ACCEPTED_CTE, DERIVED_CTE, CLASSIFIED_CTE, KEPT_CTE,
            EXPLODE_EVENTS_CTE,
            body=RUNNING_SUMS_SQL,
        ),
        "sizing_sweep_max": oracle_with(
            ACCEPTED_CTE, DERIVED_CTE, CLASSIFIED_CTE, KEPT_CTE,
            EXPLODE_EVENTS_CTE,
            f"running AS ({RUNNING_SUMS_SQL})",
            body=SWEEP_MAXIMA_SQL,
        ),
        "sizing_utilization": oracle_with(
            ACCEPTED_CTE, DERIVED_CTE,
            f"summary AS ({summarize_sql(P)})",
            body=utilization_sql(P),
        ),
        "sizing_report_values": _report_values_oracle(),
    }
    ext = queries_ext.oracle_sql()
    for n in _rotated_names(list(ext)):
        base[n] = ext[n]
    return base

