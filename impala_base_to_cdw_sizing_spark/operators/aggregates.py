"""Workload-level aggregations — SURVEY.md §2.G (G1-G9).

The reference accumulates these in module-level globals during its
row loop (``impala_query_sizing.py:272-305``); here they are ONE Spark
aggregate, :func:`report_aggregate`, with map-side partial aggregation —
one shuffle of one row per partition, scale-independent output. The
declared per-value queries (:func:`summarize`, :func:`argmax_query`,
:func:`size_matrix`, :func:`utilization`) select from that same row, so
no value has a second Spark formulation. The aggregate is Spark SQL
text: one parse on the JVM instead of hundreds of driver round-trips to
build Columns.

Float-determinism note: unordered floating SUM is order-dependent, so
oracle-checked sums are accumulated in DECIMAL(38,6) (exact, commutative)
and cast back to DOUBLE — both engines produce identical bits. MAX needs
no such treatment.

Semantics preserved:
- G1 ``total_queries`` counts pool-filtered rows *including* later-pruned
  ones (:215 before :262).
- G4 argmax uses strict ``>`` → earliest tie wins (:272-274); implemented
  as a total order (pod DESC, seq ASC).
- Pruned rows (D3) feed no aggregate: each value is taken over the kept
  rows only, selected by the prune route's own predicate.
- G6 asymmetry: ``total_query_time`` excludes admission wait while the
  utilization integrals weight by the *full* duration (:300-305).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import SizingParams
from ..functions import round2_sql
from ..schemas import SIZE_ORDER
from .classify import classify, tsize_case_sql

DEC = "decimal(38,6)"

# G5 dimensions → the label column each counts
MATRIX_DIMS = {
    "count": "recommended_tsize",
    "cache": "tsize_cache",
    "mem": "tsize_mem",
    "cpu": "tsize_cpu",
    "spill": "tsize_spill",
}
# G7 percentages → (integral column, per-node capacity field of SizingParams)
_UTILIZATION = {
    "cache_util_pct": ("util_cache", "cache_gb_per_node"),
    "mem_util_pct": ("util_mem", "query_mem_per_node"),
    "cpu_util_pct": ("util_cpu", "vcores_per_node"),
    "spill_util_pct": ("util_spill", "scratch_gb_per_node"),
}


def dsum(c: Column) -> Column:
    """Order-independent exact sum: accumulate in decimal, emit double."""
    return F.sum(c.cast(DEC)).cast("double")


def dec_to_double_sql(dec_expr: str) -> str:
    """DuckDB decimal→double, CORRECTLY rounded via the exact string
    form. DuckDB's direct ``CAST(decimal AS DOUBLE)`` converts the
    scaled integer to double and then divides by 10^scale — two
    roundings, which differs from the correctly-rounded value by 1 ulp
    once the scaled integer exceeds 2^53 (measured at sf0.1:
    86047380724.118065 → …11806 direct vs …11807 correct). Spark's
    BigDecimal path and strtod are both correctly rounded, so routing
    the oracle through VARCHAR keeps the engines bit-equal at any
    magnitude."""
    return f"CAST(CAST(({dec_expr}) AS STRING) AS DOUBLE)"


def dsum_sql(x: str) -> str:
    return dec_to_double_sql(f"SUM(CAST(({x}) AS DECIMAL(38,6)))")


def matrix_cell(dim: str, size: str) -> str:
    """Column of the report aggregate holding one G5 count."""
    return f"{dim}_{size}"


def report_aggregate(derived: DataFrame, params: SizingParams) -> DataFrame:
    """G1-G8 as ONE single-row aggregate over the pre-prune ``derived``
    table (``route.RoutedPlan.derived``).

    "Kept" is the prune route's own predicate, ``NOT (min_executor_pod >
    pod_limit)`` (``route.prune_split``), applied inside each aggregate
    through ``CASE WHEN`` / ``count_if``. The row carries:

    - ``total_queries`` (G1, pre-prune), ``prune_count`` and
      ``kept_queries``;
    - the G2/G3/G8 maxima and the DECIMAL(38,6) sums (G6 and the
      utilization integrals);
    - ``pools``: ``array_sort(collect_set(pool))``. A distinct count
      beside the decimal sums would plan an Expand (SCALE.md);
    - ``highest_resources_query_id`` (G4): ``max_by`` over
      ``(min_executor_pod, ~seq)``, the earliest-``seq`` tie-break.
      ``~seq`` is ``-seq - 1``, so it cannot overflow where ``-seq`` can;
    - one count per size × dimension cell (G5), named by
      :func:`matrix_cell`;
    - ``tsize_workload`` and the four G7 percentages, projected on the
      same row.

    Fractional literals carry the ``D`` suffix: an unsuffixed ``1000.0``
    is DECIMAL in Spark SQL, and every value here is DOUBLE or integral.
    """
    limit = params.pod_limit
    kept = f"NOT (min_executor_pod > {limit})"

    def k(x: str) -> str:
        return f"CASE WHEN {kept} THEN {x} END"

    def dsum_expr(x: str) -> str:
        return f"CAST(sum({k(f'CAST(({x}) AS DECIMAL(38,6))')}) AS DOUBLE)"

    maxima = {
        "max_backends": "num_backends",
        "max_vcores": "avg_vcores",
        "max_mem": "avg_mem",
        "max_data": "avg_data",
        "max_data_rate": "avg_data_rate",
        "max_spill": "avg_spill",
        "min_executor_pod_workload": "min_executor_pod",
    }
    sums = {
        "total_query_time": "(duration_millis - admission_wait) / 1000.0D",
        "util_mem": "reqd_agg_mem * duration_sec",
        "util_cpu": "cpu_time_sec",
        "util_cache": "reqd_cache_gb * duration_sec",
        "util_spill": "memory_spilled_gb * duration_sec",
    }
    agg = classify(derived).selectExpr(
        "count(*) AS total_queries",
        f"count_if(min_executor_pod > {limit}) AS prune_count",
        f"count_if({kept}) AS kept_queries",
        *[f"max({k(c)}) AS {name}" for name, c in maxima.items()],
        f"array_sort(collect_set({k('pool')})) AS pools",
        "max_by(query_id, "
        f"{k('struct(min_executor_pod, ~seq)')}) AS highest_resources_query_id",
        *[f"{dsum_expr(x)} AS {name}" for name, x in sums.items()],
        *[
            f"count_if({kept} AND {label} = '{size}') AS {matrix_cell(dim, size)}"
            for dim, label in MATRIX_DIMS.items()
            for size in SIZE_ORDER
        ],
    )
    return agg.selectExpr(
        "*",
        f"{tsize_case_sql('min_executor_pod_workload')} AS tsize_workload",
        *_utilization_exprs(params, "D"),
    )


def summarize(report: DataFrame) -> DataFrame:
    """G1+G2+G3+G6+G8: the summary row, selected from
    :func:`report_aggregate`."""
    return report.selectExpr(
        "total_queries", "max_backends", "max_vcores", "max_mem", "max_data",
        "max_data_rate", "max_spill", "min_executor_pod_workload",
        "CAST(size(pools) AS BIGINT) AS n_pools",
        "total_query_time", "util_mem", "util_cpu", "util_cache", "util_spill",
    )


def summarize_sql(params: SizingParams) -> str:
    """Oracle body for :func:`summarize` given the classified/derived CTEs
    (expects ``derived`` with kept/pruned split applied by the caller via
    WHERE)."""
    return f"""
SELECT
  (SELECT COUNT(*) FROM derived) AS total_queries,
  MAX(num_backends) AS max_backends,
  MAX(avg_vcores) AS max_vcores,
  MAX(avg_mem) AS max_mem,
  MAX(avg_data) AS max_data,
  MAX(avg_data_rate) AS max_data_rate,
  MAX(avg_spill) AS max_spill,
  MAX(min_executor_pod) AS min_executor_pod_workload,
  COUNT(DISTINCT pool) AS n_pools,
  {dsum_sql("(duration_millis - admission_wait) / 1000.0")} AS total_query_time,
  {dsum_sql("reqd_agg_mem * duration_sec")} AS util_mem,
  {dsum_sql("cpu_time_sec")} AS util_cpu,
  {dsum_sql("reqd_cache_gb * duration_sec")} AS util_cache,
  {dsum_sql("memory_spilled_gb * duration_sec")} AS util_spill
FROM derived
WHERE min_executor_pod <= {params.pod_limit}
"""


def argmax_query(report: DataFrame) -> DataFrame:
    """G4: query id with the highest pod demand, earliest tie wins
    (strict ``>`` at :272-274), selected from :func:`report_aggregate`.
    No row when nothing is kept."""
    return report.where("kept_queries > 0").selectExpr(
        "highest_resources_query_id AS query_id",
        "min_executor_pod_workload AS min_executor_pod",
    )


def size_matrix(report: DataFrame) -> DataFrame:
    """G5: the size × dimension count matrix in long form, unpivoted from
    the cells of :func:`report_aggregate`.

    The reference increments 5 counters per row into
    ``size_matrix[size][dim]`` (:294-298). As the oracle's GROUP BY does,
    the long form keeps each dimension's NULL-size group (demand beyond
    the last bucket: kept rows minus the dimension's five cells) and has
    no row for an empty cell.
    """
    rows = []
    for dim in MATRIX_DIMS:
        cells = [matrix_cell(dim, size) for size in SIZE_ORDER]
        rows += [f"'{dim}', '{size}', {c}" for size, c in zip(SIZE_ORDER, cells)]
        rows.append(f"'{dim}', CAST(NULL AS STRING), kept_queries - {' - '.join(cells)}")
    return (
        report.selectExpr(f"stack({len(rows)}, {', '.join(rows)}) AS (dim, tsize, n)")
        .where("n > 0")
        # stack makes every output nullable; a count is NOT NULL
        .selectExpr("dim", "tsize", "coalesce(n, 0L) AS n")
    )


def size_matrix_sql(params: SizingParams) -> str:
    """Oracle body for :func:`size_matrix` over the ``classified`` CTE."""
    return f"""
, kept AS (SELECT * FROM classified WHERE min_executor_pod <= {params.pod_limit})
, long AS (
  SELECT 'count' AS dim, recommended_tsize AS tsize FROM kept
  UNION ALL SELECT 'cache', tsize_cache FROM kept
  UNION ALL SELECT 'mem', tsize_mem FROM kept
  UNION ALL SELECT 'cpu', tsize_cpu FROM kept
  UNION ALL SELECT 'spill', tsize_spill FROM kept
)
SELECT dim, tsize, COUNT(*) AS n FROM long GROUP BY dim, tsize
"""


def utilization(report: DataFrame) -> DataFrame:
    """G7: average cluster-utilization percentages
    (``impala_query_sizing.py:449-453``), selected from
    :func:`report_aggregate`. Rounding matches the reference's
    ``round(_, 2)`` via the deterministic round2 twin."""
    return report.select(*_UTILIZATION)


def _utilization_exprs(params: SizingParams, d: str) -> list[str]:
    """The G7 percentages over the summary columns, as SQL text (``d`` as
    in ``functions.round2_sql``)."""
    denom = "(min_executor_pod_workload * total_query_time)"
    return [
        round2_sql(f"100 * {util} / ({denom} * {getattr(params, cap)})", d)
        + f" AS {name}"
        for name, (util, cap) in _UTILIZATION.items()
    ]


def utilization_sql(params: SizingParams) -> str:
    """Oracle body for :func:`utilization` over a ``summary`` CTE —
    the identical floor-quantized expression text in both dialects."""
    cols = ",\n  ".join(_utilization_exprs(params, ""))
    return f"""
SELECT
  {cols}
FROM summary
"""
