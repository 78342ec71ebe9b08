"""Per-query derived-metric pipeline — SURVEY.md §2.C (C3-C13).

One projection over the query-history fact table; every expression is a
native Spark function, so the whole derivation lives in a single
whole-stage-codegen span with zero shuffles. At 100 TB this is a
pure map stage: it scales linearly with input partitions and Catalyst
pushes any downstream filter below it.

Reference semantics (``/root/reference/impala_query_sizing.py``):
- duration_sec / query_sla_sec          :219-220
- min_parallelism = ceil(cpu/duration)  :221
- per-node averages (round 2)           :223-227
- pod demand per dimension (ceil)       :235-249
- min_executor_pod = max of *pre-ceil*  :257-258  (order matters: max of
  raw floats, then ceil — NOT max of the per-dim ceils)

Fixed-with-note (SURVEY.md §7.0): the reference runs under Python 2 where
``(cpu_adjustment_pct * min_parallelism) / 100`` floor-divides before the
float division (``:244``); this engine uses true division throughout.

Spark and the DuckDB oracle CTE (:func:`derived_cte`) parse the same
expression texts, generated from the same ``SizingParams``, so neither
the constants nor the operation order can drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DEFAULT_PARAMS, SizingParams
from ..functions import ceil_long_sql, round2_sql


def _derived_exprs(params: SizingParams, d: str) -> list[tuple[str, str]]:
    """(name, SQL text) of the 18 derived columns. ``d`` suffixes the
    fractional literals: ``"D"`` makes them DOUBLE in Spark SQL, ``""``
    leaves the DuckDB text as it always was."""
    dur = f"(duration_millis / 1000.0{d})"
    minpar = ceil_long_sql(f"cpu_time_sec / {dur}")
    pod = {
        "cache": f"(reqd_cache_gb / {params.cache_gb_per_node})",
        "mem": (
            f"(((reqd_agg_mem * {params.mem_adjustment_pct}) / 100)"
            f" / {params.query_mem_per_node})"
        ),
        "cpu": (
            f"((({params.cpu_adjustment_pct} * {minpar}) / 100)"
            f" / {params.parallel_factor!r}{d})"
        ),
        "spill": f"(memory_spilled_gb / {params.scratch_gb_per_node})",
    }
    pod_raw = f"greatest({', '.join(pod.values())})"
    return [
        ("duration_sec", dur),
        ("query_sla_sec", round2_sql(dur, d)),
        ("min_parallelism", minpar),
        ("avg_vcores", round2_sql(f"{minpar} / num_backends", d)),
        ("avg_mem", round2_sql("reqd_agg_mem / num_backends", d)),
        ("avg_data", round2_sql("reqd_cache_gb / num_backends", d)),
        ("avg_data_rate", round2_sql(f"reqd_cache_gb / num_backends / {dur}", d)),
        ("avg_spill", round2_sql("memory_spilled_gb / num_backends", d)),
        *[
            item
            for dim, raw in pod.items()
            for item in [(f"pod_{dim}_raw", raw), (f"min_exec_pod_{dim}", ceil_long_sql(raw))]
        ],
        ("min_executor_pod_raw", pod_raw),
        ("min_executor_pod", ceil_long_sql(pod_raw)),
    ]


# columns added by derive(), in output order
DERIVED_COLUMNS = [n for n, _ in _derived_exprs(DEFAULT_PARAMS, "")]


def derive(df: DataFrame, params: SizingParams) -> DataFrame:
    """query_history → query_history + 18 derived columns.

    Expects columns: duration_millis, cpu_time_sec, reqd_cache_gb,
    reqd_agg_mem, memory_spilled_gb, num_backends (see
    ``schemas.QUERY_HISTORY_SCHEMA`` / ``sources.synthetic``), and none
    of the derived names.
    """
    return df.selectExpr("*", *[f"{e} AS {n}" for n, e in _derived_exprs(params, "D")])


def derived_cte(params: SizingParams, source: str = "query_history") -> str:
    """DuckDB CTE body equivalent to :func:`derive` — the same expression
    texts, generated from the same ``SizingParams``."""
    cols = ",\n    ".join(f"{e} AS {n}" for n, e in _derived_exprs(params, ""))
    return f"""derived AS (
  SELECT *,
    {cols}
  FROM {source}
)"""
