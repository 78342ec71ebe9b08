"""Range-bucket t-shirt classification — SURVEY.md §2.E (E1/E2).

The reference's ``get_tsize`` (``impala_query_sizing.py:71-84``) ceils its
input and linearly scans a range-keyed dict. Here it is one ANSI ``CASE``
text, :func:`tsize_case_sql`, generated from ``SIZE_BUCKET_ROWS``. Spark
parses it (:func:`classify`) and the
DuckDB oracle embeds it (:func:`classify_cte`), so both engines evaluate
the same text: a pure expression inside whole-stage codegen, zero
shuffle, zero join. This is the 100 TB path.

:func:`classify_range_join` is the generic broadcast non-equi range join
against the ``size_buckets`` dimension (the reference's only "join",
SURVEY §2.J); ``sizing_derive_rangejoin`` runs it against the same
DuckDB oracle as ``sizing_derive``.

Faithful semantics: input is ceiled first (``:72``); values beyond the last
bucket (x > 999) fall off the dict scan and return ``None`` → NULL here.
The ``cache_gb`` bucket table is dead code in the reference (the
``ttype == 'cache'`` branch at ``:73-78`` is unreachable, SURVEY §2.E2) —
shipped in the dimension table, never used by the sizing pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SIZE_BUCKET_ROWS, size_buckets


def _buckets(dim: str) -> list[tuple[int, int, str]]:
    return [(lo, hi, label) for d, lo, hi, label in SIZE_BUCKET_ROWS if d == dim]


def tsize_case_sql(x: str, dim: str = "pods") -> str:
    """``get_tsize`` as an ANSI CASE over the SQL expression ``x``, valid
    in both DuckDB and Spark SQL. ``x`` may be fractional; it is ceiled
    exactly like the reference (``impala_query_sizing.py:72``)."""
    xe = f"CAST(ceil({x}) AS BIGINT)"
    whens = "\n    ".join(
        f"WHEN {xe} >= {lo} AND {xe} <= {hi} THEN '{label}'"
        for lo, hi, label in _buckets(dim)
    )
    return f"(CASE {whens} ELSE NULL END)"


# output label → the pod-demand column it classifies
TSIZE_SOURCES = {
    "tsize_cache": "min_exec_pod_cache",
    "tsize_mem": "min_exec_pod_mem",
    "tsize_cpu": "min_exec_pod_cpu",
    "tsize_spill": "min_exec_pod_spill",
    "recommended_tsize": "min_executor_pod_raw",
}


def classify(df: DataFrame) -> DataFrame:
    """Attach the five t-shirt labels the reference computes
    (``impala_query_sizing.py:252-259``): one per pod dimension plus the
    overall ``recommended_tsize`` (classified on the *pre-ceil* max, which
    ceils to the same bucket input). ``df`` must not already carry them."""
    return df.selectExpr(
        "*", *[f"{tsize_case_sql(src)} AS {out}" for out, src in TSIZE_SOURCES.items()]
    )


def classify_cte(source: str = "derived") -> str:
    """Oracle CTE: the same CASE texts as :func:`classify`."""
    labels = ",\n    ".join(
        f"{tsize_case_sql(src)} AS {out}" for out, src in TSIZE_SOURCES.items()
    )
    return f"""classified AS (
  SELECT *,
    {labels}
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
