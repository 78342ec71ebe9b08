"""Range-bucket t-shirt classification — SURVEY.md §2.E (E1/E2).

The reference's ``get_tsize`` (``impala_query_sizing.py:71-84``) ceils its
input and linearly scans a range-keyed dict. Here it is:

1. :func:`tsize_expr` — a ``when()`` chain: the default. Pure expression,
   evaluated inside whole-stage codegen, zero shuffle, zero join. This is
   the 100 TB path.
2. :func:`classify_range_join` — a broadcast non-equi range join against
   the ``size_buckets`` dimension. Catalyst picks
   BroadcastNestedLoopJoin; at 5 bucket rows that is one comparison chain
   per row, also scale-safe. Kept as the generic range-join operator (the
   reference's only "join", SURVEY §2.J); ``sizing_derive_rangejoin``
   runs it against the same DuckDB oracle as ``sizing_derive``.

Faithful semantics: input is ceiled first (``:72``); values beyond the last
bucket (x > 999) fall off the dict scan and return ``None`` → NULL here.
The ``cache_gb`` bucket table is dead code in the reference (the
``ttype == 'cache'`` branch at ``:73-78`` is unreachable, SURVEY §2.E2) —
shipped in the dimension table, never used by the sizing pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import SIZE_BUCKET_ROWS, size_buckets


def _buckets(dim: str) -> list[tuple[int, int, str]]:
    return [(lo, hi, label) for d, lo, hi, label in SIZE_BUCKET_ROWS if d == dim]


def tsize_expr(c: Column, dim: str = "pods") -> Column:
    """``get_tsize`` as a native when-chain. ``c`` may be fractional; it is
    ceiled exactly like the reference (``impala_query_sizing.py:72``)."""
    x = F.ceil(c).cast("long")
    expr: Column | None = None
    for lo, hi, label in _buckets(dim):
        cond = (x >= lo) & (x <= hi)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None
    return expr.otherwise(F.lit(None).cast("string"))


def tsize_case_sql(x: str, dim: str = "pods") -> str:
    """ANSI CASE form of :func:`tsize_expr` — valid in BOTH DuckDB
    (oracle side) and Spark SQL."""
    xe = f"CAST(ceil({x}) AS BIGINT)"
    whens = "\n    ".join(
        f"WHEN {xe} >= {lo} AND {xe} <= {hi} THEN '{label}'"
        for lo, hi, label in _buckets(dim)
    )
    return f"(CASE {whens} ELSE NULL END)"


def classify(df: DataFrame) -> DataFrame:
    """Attach the five t-shirt labels the reference computes
    (``impala_query_sizing.py:252-259``): one per pod dimension plus the
    overall ``recommended_tsize`` (classified on the *pre-ceil* max, which
    ceils to the same bucket input)."""
    return df.withColumns(
        {
            "tsize_cache": tsize_expr(F.col("min_exec_pod_cache")),
            "tsize_mem": tsize_expr(F.col("min_exec_pod_mem")),
            "tsize_cpu": tsize_expr(F.col("min_exec_pod_cpu")),
            "tsize_spill": tsize_expr(F.col("min_exec_pod_spill")),
            "recommended_tsize": tsize_expr(F.col("min_executor_pod_raw")),
        }
    )


def classify_cte(source: str = "derived") -> str:
    """Oracle CTE mirroring :func:`classify`."""
    return f"""classified AS (
  SELECT *,
    {tsize_case_sql("min_exec_pod_cache")} AS tsize_cache,
    {tsize_case_sql("min_exec_pod_mem")} AS tsize_mem,
    {tsize_case_sql("min_exec_pod_cpu")} AS tsize_cpu,
    {tsize_case_sql("min_exec_pod_spill")} AS tsize_spill,
    {tsize_case_sql("min_executor_pod_raw")} AS recommended_tsize
  FROM {source}
)"""


def classify_range_join(
    df: DataFrame, value_col: str, out_col: str = "label", dim: str = "pods"
) -> DataFrame:
    """Generic broadcast range-join classification: non-equi join of facts
    against the bucket dimension on ``lo <= ceil(x) <= hi``. Left join so
    out-of-range values keep the reference's ``None``."""
    b = size_buckets(df.sparkSession, dim).select("lo", "hi", "label")
    x = F.ceil(F.col(value_col)).cast("long")
    joined = df.join(
        F.broadcast(b), (x >= b.lo) & (x <= b.hi), "left"
    )
    return joined.drop("lo", "hi").withColumnRenamed("label", out_col)
